package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 0
    (3L, "completely different words about spark query engines and shuffle plans"),
    (4L, "another unrelated document mentioning parquet files and column pruning")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val got = Dedup.exact(docs, "text", "doc_id")
      .filter($"n_copies" > 1).select("doc_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 2L)))
  }

  test("exactByFingerprint groups formatting variants") {
    val noisy = docs.unionByName(Seq((5L, "  THE  quick brown fox jumps over the lazy dog near the river bank today "))
      .toDF("doc_id", "text"))
    val got = Dedup.exactByFingerprint(noisy, "text", "doc_id")
      .filter($"n_copies" > 1).select("keep_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 3L))) // ids 0, 1 and the case/whitespace variant 5
  }

  test("wordShingles: distinct n-grams, short docs collapse to whole text") {
    val sh = docs.limit(1).select(Dedup.wordShingles($"text", 3).as("sh"))
      .as[Seq[String]].head()
    assert(sh.contains("the quick brown") && sh.contains("river bank today"))
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
      .select(Dedup.wordShingles($"text", 3).as("sh")).as[Seq[String]].head()
    assert(short === Seq("two words"))
  }

  test("ngramJaccardPairs finds exact and near dups above threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("indexed jaccard join ≡ quadratic all-pairs (for threshold > 0)") {
    val quad = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSet
    val idx = Dedup.ngramJaccardPairsIndexed(docs, "doc_id", "text", n = 3, threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSet
    assert(idx === quad)
  }

  test("prefix-filtered jaccard ≡ quadratic all-pairs across thresholds (incl. boundary)") {
    // low threshold (near-full prefixes), high threshold (aggressive
    // pruning — prefix ≈ 30% of each doc), and an exact-boundary value all
    // reproduce the quadratic reference output pair-for-pair
    for (t <- Seq(0.1, 0.5, 0.7, 14.0 / 15.0)) {
      val quad = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      val pre = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pre === quad, s"prefix filtering lost/added pairs at threshold $t")
    }
  }

  test("prefix-filtered jaccard honors block columns like the indexed join") {
    val blocked = docs.withColumn("lang", when($"doc_id" < 3, "en").otherwise("de"))
    val idx = Dedup.ngramJaccardPairsIndexed(blocked, "doc_id", "text", n = 3,
      threshold = 0.1, blockCols = Seq("lang")).as[(Long, Long, Double)].collect().toSet
    val pre = Dedup.ngramJaccardPairsPrefix(blocked, "doc_id", "text", n = 3,
      threshold = 0.1, blockCols = Seq("lang")).as[(Long, Long, Double)].collect().toSet
    assert(pre === idx)
  }

  test("df cap: generous caps are a no-op; a tight cap drops ubiquitous-shingle pairs") {
    val base = Dedup.ngramJaccardPairsIndexed(docs, "doc_id", "text", n = 3, threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSet
    val generous = Dedup.ngramJaccardPairsIndexed(docs, "doc_id", "text", n = 3, threshold = 0.1,
      maxShingleDf = Some(Long.MaxValue), maxShingleDfFrac = Some(1.0))
      .as[(Long, Long, Double)].collect().toSet
    assert(generous === base)
    // cap = 1 removes every shared shingle from the index → no pairs at all
    val tight = Dedup.ngramJaccardPairsIndexed(docs, "doc_id", "text", n = 3, threshold = 0.1,
      maxShingleDf = Some(1L))
    assert(tight.count() === 0)
  }

  test("edit-distance verification: exact dups at 0, near dups small and consistent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    val a = docs.select($"doc_id".as("id_a"), $"text".as("__ta"))
    val b = docs.select($"doc_id".as("id_b"), $"text".as("__tb"))
    val dist = levenshtein($"__ta", $"__tb")
    val got = pairs.join(a, "id_a").join(b, "id_b")
      .select($"id_a", $"id_b", dist.cast("long").as("edit_dist"),
        (dist.cast("double") / greatest(length($"__ta"), length($"__tb")).cast("double"))
          .as("edit_ratio"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got((0L, 1L)) === ((0L, 0.0))) // byte-identical docs
    // docs 0/2 differ only in the final word (today→tonight): a small
    // positive distance, identical whichever exact-dup twin anchors it
    assert(got((0L, 2L))._1 > 0 && got((0L, 2L))._2 < 0.15)
    assert(got((0L, 2L)) === got((1L, 2L)))
  }

  test("minhashLshPairs recovers the high-jaccard pairs the exact method finds") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // LSH verifies candidates with exact jaccard → no false positives;
    // banding (8 bands × 2 rows) catches j≥0.7 pairs with prob ~1-(1-.7²)⁸≈0.997
    assert(lsh === exact)
  }

  test("embeddingNearDupPairs: exact pair set, threshold-monotone, ordered ids") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val loose = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    val tight = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.45)
      .as[(Long, Long, Double)].collect()
    assert(loose.nonEmpty, "fixture should contain cosine≥0.3 pairs")
    assert(loose.forall { case (a, b, s) => a < b && s >= 0.3 })
    // raising the threshold selects exactly the matching subset
    assert(tight.toSet === loose.filter(_._3 >= 0.45).toSet)
  }

  test("embeddingNearDupPairsLsh: subset of exact with useful recall; multi-probe monotone") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val exact = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def lshPairs(tables: Int, probes: Int): Set[(Long, Long)] =
      Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4,
        planes = 8, tables = tables, probes = probes)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = lshPairs(4, 1)
    val probed = lshPairs(4, 4)
    // exact-cosine verification → precision 1: every LSH pair is an exact pair
    assert(single.subsetOf(exact) && probed.subsetOf(exact))
    // more probes only add candidates → pair recall is monotone
    assert(single.subsetOf(probed))
    val recall = probed.size.toDouble / exact.size
    assert(recall > 0.3, s"pair recall $recall (|exact|=${exact.size})")
  }

  test("lshPlanesForCorpus: integer-exact ceil(log2(ceil(n/8))) with clamps") {
    // the qt12p production rule: planes ride log₂(N) so expected bucket
    // occupancy stays ~targetPerBucket at every decade
    assert(Dedup.lshPlanesForCorpus(0) === 6)
    assert(Dedup.lshPlanesForCorpus(1) === 6) // B=1 → floor
    assert(Dedup.lshPlanesForCorpus(500) === 6) // B=63 → 6 bits
    assert(Dedup.lshPlanesForCorpus(2000) === 8) // B=250 → 8 bits
    assert(Dedup.lshPlanesForCorpus(200000) === 15) // B=25000 → 15 bits
    assert(Dedup.lshPlanesForCorpus(Long.MaxValue) === 24) // cap
    // exact power-of-two boundaries — the case an fp log2 could misround
    assert(Dedup.lshPlanesForCorpus(8L * 1024) === 10) // B=1024 = 2^10
    assert(Dedup.lshPlanesForCorpus(8L * 1024 + 1) === 11) // B=1025
    assert(Dedup.lshPlanesForCorpus(512) === 6) // B=64 = 2^6
    assert(Dedup.lshPlanesForCorpus(513) === 7) // B=65
  }

  test("LSH pair candidacy is data-independent: panel-input run ≡ full run filtered to panel") {
    // the qt12rs optimization gate: sign-LSH hyperplanes are hash-derived,
    // so pair (a,b)'s buckets — hence its candidacy AND its exact verify —
    // are unchanged when the rest of the corpus is filtered away (unlike
    // semdedup, whose cells are corpus-trained)
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingNearDupPairsLsh(df, "vec_id", "embedding", 0.2,
        planes = 6, tables = 4, probes = 2)
    val full = pairs(e)
      .filter(pmod($"id_a", lit(31)) === 7 && pmod($"id_b", lit(31)) === 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val panel = pairs(e.filter(pmod($"vec_id", lit(31)) === 7))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(panel === full)
    assert(panel.nonEmpty, "fixture panel should contain cosine≥0.2 LSH pairs")
  }

  test("embeddingNearDupPairsLsh default planes ≡ lshPlanesForCorpus(count) explicit") {
    // the production default: a caller who omits planes gets the log-N
    // rule, not a fixed fixture-scale operating point (the r13 disk-fill
    // shape). Pinned by equality with the explicitly-derived run.
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val derived = Dedup.lshPlanesForCorpus(e.count())
    val byDefault = Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4,
      tables = 4, probes = 2)
      .as[(Long, Long, Double)].collect().toSet
    val explicit = Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4,
      planes = derived, tables = 4, probes = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(byDefault === explicit)
    assert(byDefault.nonEmpty, "fixture should contain cosine≥0.4 LSH pairs")
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4, planes = 25)
    }
  }

  test("EmbedNearDupIndex: parquet round-trip serves bit-identical pairs") {
    // the build/serve split of the ANN families applied to the near-dup
    // production path: bucket once, persist, serve pair scans from the
    // reloaded store without re-hashing a vector
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val direct = Dedup.embeddingNearDupPairsLsh(e, "vec_id", "embedding", 0.4,
      tables = 4, probes = 2)
      .as[(Long, Long, Double)].collect().toSet
    val built = Dedup.embedNearDupIndex(e, "vec_id", "embedding",
      tables = 4, probes = 2)
    assert(built.planes === Dedup.lshPlanesForCorpus(e.count()),
      "default build derives planes from the corpus count")
    val dir = java.nio.file.Files.createTempDirectory("graft_endi_").toString
    graft.sources.Tables.deleteOnExit(dir)
    Dedup.saveEmbedNearDupIndex(built, dir)
    val loaded = Dedup.loadEmbedNearDupIndex(spark, dir)
    assert((loaded.planes, loaded.tables, loaded.probes, loaded.idCol) ===
      ((built.planes, built.tables, built.probes, "vec_id")))
    val served = Dedup.embeddingNearDupPairsLshIndexed(loaded, e,
      "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(served === direct)
    // memberships are threshold-independent: a tighter re-scan of the
    // same store selects exactly the matching subset
    val tight = Dedup.embeddingNearDupPairsLshIndexed(loaded, e,
      "vec_id", "embedding", 0.45)
      .as[(Long, Long, Double)].collect().toSet
    assert(tight === direct.filter(_._3 >= 0.45))
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairsLshIndexed(loaded, e, "doc_id", "embedding", 0.4)
    }
  }

  test("semDedup: drop rule ≡ within-cell exact pairs; tau boundary; modes agree") {
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
    val out = Dedup.semDedup(e, "vec_id", "embedding", nlist = 16, tau = 0.4,
      lloydIters = 1, oracleMode = true)
    val rows = out.as[(Long, Int, Boolean)].collect()
    assert(rows.length.toLong === e.filter($"embedding".isNotNull).count(),
      "one row per non-null vector")
    // recompute the drop decision independently: the exact all-pairs dup set
    // restricted to the operator's own cells must lose exactly its larger ids
    val cells = rows.map(r => r._1 -> r._2).toMap
    val exactPairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val withinCell = exactPairs.filter { case (a, b) => cells.get(a) == cells.get(b) }
    assert(withinCell.nonEmpty, "fixture should yield within-cell dups at tau=0.4")
    assert(rows.filter(!_._3).map(_._1).toSet === withinCell.map(_._2).toSet)
    // a tau above every pairwise cosine keeps everything
    val allKept = Dedup.semDedup(e, "vec_id", "embedding", nlist = 16, tau = 0.999,
      lloydIters = 1, oracleMode = true)
    assert(allKept.filter(!$"kept").count() === 0L)
    // production (combinable avg) vs oracle-mode (ordered fold) centroids:
    // same cells and survivors on the fixture — the SimilaritySpec discipline
    val prod = Dedup.semDedup(e, "vec_id", "embedding", nlist = 16, tau = 0.4,
      lloydIters = 1).as[(Long, Int, Boolean)].collect().toSet
    assert(prod === rows.toSet)
  }

  test("connectedComponents: chains merge transitively, separate clusters stay apart") {
    // 1-2-3 chained (1-3 NOT directly paired), 7-8 separate
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents reliable-checkpoint mode: identical labels, durable rounds") {
    // cluster-scale option: per-round label frames round-trip durable
    // storage instead of executor-local checkpoint blocks; components
    // must come out EXACTLY the same (integer labels, no float slack)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    // a 5-chain (needs several min-label rounds) plus a separate pair
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (9L, 8L))
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val durable = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(durable === local)
    // snapshots landed on storage under a per-call subdir: the init slot
    // plus the two ping-pong round slots, disk bounded per call
    val calls = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(calls.size === 1 && calls.head.startsWith("cc_"), calls.toString)
    val slots = new java.io.File(s"$dir/${calls.head}").listFiles()
      .map(_.getName).toSet
    assert(slots === Set("labels_init", "labels_0", "labels_1"))
    // a second call sharing the dir must not clobber the first call's
    // final slot while its lazy result frame is unconsumed
    val first = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
    Dedup.connectedComponents(Seq((20L, 21L)).toDF("id_a", "id_b"),
      checkpointDir = Some(dir)).collect()
    assert(first.as[(Long, Long)].collect().toMap === local,
      "second durable call clobbered the first call's unconsumed result")
  }

  test("connectedComponents: a failing job leaves no cache entry behind") {
    // the raise_error row fails the init materialization; the persisted
    // edge frame must be released on that path too (a job-group cancel in
    // a long-lived session fails the same way). repartition keeps the
    // optimizer from folding the local rows at plan time.
    val before = cachedEntries
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b").repartition(2)
      .withColumn("id_b", when($"id_a" === 7L, raise_error(lit("cc boom"))).otherwise($"id_b"))
    val e = intercept[Exception](Dedup.connectedComponents(pairs))
    assert(raisedWith(e, "cc boom"), e.toString)
    assert(cachedEntries === before)
  }

  test("nearDupClusters: one canonical per cluster, singletons canonical, via real pair ops") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.15)
    val clusters = Dedup.nearDupClusters(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // docs 0/1/2 form one near-dup cluster (0-1 exact, 2 near) → component 0
    assert(clusters.filter(_._2 === 0L).map(_._1) === Seq(0L, 1L, 2L))
    // 3 and 4 are unpaired singletons, each its own canonical
    assert(clusters.find(_._1 == 3L).get === ((3L, 3L, true)))
    assert(clusters.find(_._1 == 4L).get === ((4L, 4L, true)))
    // exactly one canonical per component
    val canonPerComp = clusters.groupBy(_._2).view.mapValues(_.count(_._3)).toMap
    assert(canonPerComp.values.forall(_ == 1))
  }

  test("ngramContainmentPairs: planted contamination found; containment vs jaccard asymmetry") {
    // bench doc 10 is fully contained in the much larger corpus doc 20 —
    // high containment, low jaccard (the case Jaccard-based dedup misses)
    val corpus = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (21L, "totally unrelated words about storage engines and columnar files"))
      .toDF("doc_id", "text")
    val bench = Seq((10L, "gamma delta epsilon zeta"),
      (11L, "phi chi psi omega")).toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(corpus, bench, "doc_id", "text",
      n = 3, threshold = 0.5).as[(Long, Long, Double)].collect().toSeq
    // bench 10's two 3-grams both appear in corpus 20 → containment 1.0;
    // bench 11 shares nothing → absent
    assert(got === Seq((20L, 10L, 1.0)))
    // jaccard for the same pair is tiny: 2 shared / (18 + 2 - 2)
    val j = Dedup.ngramJaccardPairs(
      corpus.filter($"doc_id" === 20).unionByName(bench.filter($"doc_id" === 10)),
      "doc_id", "text", n = 3, threshold = 0.01)
      .as[(Long, Long, Double)].collect()
    assert(j.length === 1 && j.head._3 < 0.15)
  }

  test("ngramContainmentPairs: benchmark items SHORTER than n are still caught verbatim") {
    val corpus = Seq(
      (30L, "a long training document that quotes alpha beta somewhere in its middle section"),
      (31L, "nothing relevant in this one at all whatsoever")).toDF("doc_id", "text")
    val bench = Seq((40L, "alpha beta")).toDF("doc_id", "text") // 2 tokens < n=3
    val got = Dedup.ngramContainmentPairs(corpus, bench, "doc_id", "text",
      n = 3, threshold = 0.5).as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((30L, 40L, 1.0)))
  }

  test("keepBestInCluster: keeper is the highest-scoring copy, not the min id") {
    // 1-2 paired, 2 is longer; 3 unpaired singleton. Min-id would keep 1;
    // keep-best must keep 2. Ties (4-5, equal score) break on ascending id.
    val d = Seq(
      (1L, "short copy", 2L), (2L, "the full much longer copy", 5L),
      (3L, "solo", 1L), (4L, "tie a", 2L), (5L, "tie b", 2L))
      .toDF("id", "text", "score_in")
    val pairs = Seq((1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.keepBestInCluster(d, "id", pairs, $"score_in")
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(
      (1L, 1L, 2L, false), (2L, 1L, 5L, true),
      (3L, 3L, 1L, true),
      (4L, 4L, 2L, true), (5L, 4L, 2L, false)))
    // invariant: exactly one keeper per component
    assert(got.groupBy(_._2).view.mapValues(_.count(_._4)).toMap.values.forall(_ == 1))
  }

  test("dedupLines: shared chrome dropped case/space-insensitively, order and empty lines preserved") {
    val d = Seq(
      (1L, "unique body one\nSubscribe NOW\n\nref 1"),
      (2L, "unique body two\nsubscribe now\nref 2"),
      (3L, "unique body three\nSUBSCRIBE NOW \nref 3")).toDF("id", "text")
    val got = Dedup.dedupLines(d, "id", "text", maxDocFreq = 2)
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    // 'subscribe now' (normalized) spans 3 docs > 2 → dropped everywhere;
    // the empty line in doc 1 is formatting, kept; unique lines keep order
    assert(got === Seq(
      (1L, "unique body one\n\nref 1", 3L, 1L),
      (2L, "unique body two\nref 2", 2L, 1L),
      (3L, "unique body three\nref 3", 2L, 1L)))
  }

  test("nearDupClusters works when the id column is literally named 'id'") {
    val d = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "v")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(d, "id", pairs)
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(got === Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
  }

  test("nearDupDelta ≡ full re-dedup restricted to delta-touching pairs") {
    // corpus: the base docs; delta: a re-submitted copy of 0 (exact dup),
    // a near dup of 2, and a genuinely new doc — plus a delta-internal
    // dup pair (10/11). Includes every pair class: delta×corpus exact,
    // delta×corpus near, delta×delta, and corpus×corpus (which must NOT
    // be emitted even though 0/1/2 pair up above threshold).
    val corpus = docs
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (12L, "the quick brown fox jumps over the lazy dog near the river bank tomorrow"),
      (13L, "entirely fresh content with no overlap whatsoever in any shingle")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.7, 0.9)) {
      val got = Dedup.nearDupDelta(corpus, delta, "doc_id", "text", n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      val full = Dedup.ngramJaccardPairsIndexed(corpus.unionByName(delta),
          "doc_id", "text", n = 3, threshold = t)
        .filter($"id_a" >= 10 || $"id_b" >= 10)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === full, s"delta pair set diverged from restricted full re-dedup at t=$t")
      assert(got.forall(p => p._1 >= 10 || p._2 >= 10), "emitted a corpus×corpus pair")
    }
    // the exact-dup copies must surface: (0,10), (0,11) cross, (10,11) within
    val at09 = Dedup.nearDupDelta(corpus, delta, "doc_id", "text", n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(Set((0L, 10L, 1.0), (0L, 11L, 1.0), (1L, 10L, 1.0), (10L, 11L, 1.0)).subsetOf(at09))
  }

  test("NearDupIndex: parquet round-trip serves pairs bit-identical to the in-session build") {
    // the build/serve split of the prefix-posting near-dup path (the
    // BM25/PQ/EmbedNearDupIndex seam applied to nearDupDelta): persist
    // the corpus's sized shingle table + frozen df sidecar, serve a
    // delta against the reloaded store without re-tokenizing the corpus
    val corpus = docs
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "the quick brown fox jumps over the lazy dog near the river bank tomorrow"),
      (12L, "entirely fresh content with no overlap whatsoever in any shingle")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.9)) {
      val direct = Dedup.nearDupDelta(corpus, delta, "doc_id", "text", n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      val dir = java.nio.file.Files.createTempDirectory("graft_ndix_").toString
      graft.sources.Tables.deleteOnExit(dir)
      Dedup.saveNearDupIndex(Dedup.nearDupIndexOf(corpus, "doc_id", "text", 3), dir)
      val loaded = Dedup.loadNearDupIndex(spark, dir)
      assert(loaded.n === 3, "shingle width must ride the store marker")
      val served = Dedup.nearDupDeltaIndexed(loaded, delta, "doc_id", "text", threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(served === direct, s"served pair set diverged from in-session build at t=$t")
    }
  }

  test("connectedComponents keeps label partitioning across rounds (scale regime: no broadcast)") {
    // At fixture scale AQE broadcasts the tiny label frame, so the
    // per-round plan shape this gates is only visible with auto-broadcast
    // off — the 100 TB regime, where both per-round label joins go
    // sort-merge. The r17 persist+cutLineage round shape keeps the label
    // frame's hash(id) partitioning visible, so the ONLY
    // planner-inserted (ENSURE_REQUIREMENTS) exchange keyed on the label
    // id in any round plan is gone: edges come hash(dst)-partitioned from
    // the init repartition, labels hash(id) from theirs, and nbrMin
    // hash(src) from its aggregation — the groupBy(src) exchange is the
    // round's one fundamental shuffle. A regression to the pre-r17
    // localCheckpoint shape (UnknownPartitioning) re-inserts a label-side
    // exchange per join per round; this pins it out.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.listenerManager.register(listener)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // a 4-chain plus a disjoint pair: ≥2 label-propagation rounds
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
      val labels = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.listenerManager.unregister(listener)
    }
    // drain the async listener bus before reading the captured plans
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    import scala.jdk.CollectionConverters._
    def roundPlans = plans.asScala.filter(_.contains("nbr_min"))
    while (roundPlans.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    Thread.sleep(500)
    val rounds = roundPlans.toSeq
    assert(rounds.nonEmpty, "listener captured no round plans")
    val labelExchange = """Exchange hashpartitioning\(id#\d+L, \d+\), ENSURE_REQUIREMENTS""".r
    rounds.foreach { p =>
      assert(labelExchange.findFirstIn(p).isEmpty,
        s"a planner-inserted label-side exchange re-appeared in a CC round:\n${p.take(4000)}")
    }
  }

  test("duplicateSpans: planted shared run is found at window granularity, exactly") {
    // docs 0/1 identical (14 tokens): every 6-token window duplicated.
    // doc 2 shares the leading 13 tokens with doc 0 → windows 1..8 of 9.
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", w = 6)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(r => (r._2, r._3, r._4)).toSet }
    // 14 tokens, w=6 → 9 windows; docs 0,1,2 share windows at pos 1..8
    // (the run "the quick … bank", 13 tokens) in 3 docs; pos 9 (ends
    // "today") only in 0,1.
    val shared = (1L to 8L).map(p => (p, 3L, 3L)).toSet + ((9L, 2L, 2L))
    assert(spans(0L) === shared)
    assert(spans(1L) === shared)
    assert(spans(2L) === (1L to 8L).map(p => (p, 3L, 3L)).toSet)
    assert(!spans.contains(3L) && !spans.contains(4L))
  }

  test("duplicateSpans: within-doc repetition alone stays below the minDocs bar") {
    val rep = Seq(
      (0L, "alpha beta gamma delta alpha beta gamma delta"), // self-repeat only
      (1L, "zeta eta theta iota kappa lambda mu nu")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(rep, "doc_id", "text", w = 4).count() === 0)
    // at minDocs=1 the self-repeated window surfaces with n_occ=2
    val self = Dedup.duplicateSpans(rep, "doc_id", "text", w = 4, minDocs = 1)
      .filter($"n_occ" > 1).as[(Long, Long, Long, Long)].collect().toSet
    assert(self === Set((0L, 1L, 1L, 2L), (0L, 5L, 1L, 2L)))
  }

  test("dupSpanStats: interval merge counts covered tokens once; short/clean docs zero") {
    val stats = Dedup.dupSpanStats(docs, "doc_id", "text", w = 6)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 0: windows at pos 1..9 merge to [1,14] → all 14 tokens covered
    assert(stats(0L) === ((14L, 9L, 14L, 1.0)))
    assert(stats(1L) === ((14L, 9L, 14L, 1.0)))
    // doc 2: pos 1..8 merge to [1,13] of 14 tokens
    assert(stats(2L) === ((14L, 8L, 13L, 0.928571)))
    assert(stats(3L) === ((10L, 0L, 0L, 0.0)))
    assert(stats(4L) === ((9L, 0L, 0L, 0.0)))
  }

  test("duplicateSpans: windowHashes equals fnv1a64 of the joined window string") {
    val txt = "one two\tthree  four\nfive six seven"
    val toks = txt.split("\\s+").filter(_.nonEmpty)
    val expect = toks.sliding(3).map(ws => Dedup.fnv1a64(ws.mkString(" "))).toSeq
    val got = Seq(Tuple1(txt)).toDF("t")
      .select(graft.functions.Expressions.windowHashes($"t", 3).as("h"))
      .as[Seq[Long]].head()
    assert(got === expect)
    // fewer tokens than w → empty, not a whole-text collapse
    val short = Seq(Tuple1("just two")).toDF("t")
      .select(graft.functions.Expressions.windowHashes($"t", 3).as("h"))
      .as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("simhash: identical text → distance 0; near dup within 3 bits of original") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((0L, 1L)) === 0) // identical
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }
}
