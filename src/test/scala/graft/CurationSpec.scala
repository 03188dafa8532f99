package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  // planted corpus: each doc exercises exactly one stage
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "a completely different sentence with many ordinary words that is long enough to keep"),
    (3L, "short doc"), // < minTokens → gated
    (4L, "!!!!!!!!!!!!!!! !!!!!!!!!!!!!!! !!!!!!!!!!!!!!! !!!!!!!!!!!!!!! !!!!!!!!!!!!!!! " +
      "!!!!!!!!!!!!!!! !!!!!!!!!!!!!!! !!!!!!!!!!!!!!! !!!!!!!!!!!!!!! !!!!!!!!!!!!!!!"), // quality < 0.5
    (5L, "spark data spark data spark data spark data spark data"), // top-bigram loop → repetition gate
    (6L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (7L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen"),
    (8L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen sixteen"), // near dup of 7
    (9L, "this training document quotes alpha beta gamma delta epsilon verbatim plus lots of its own words"), // contaminated
    (10L, "write to jane.doe@corp.example.org with the usual questions about the data release schedule"),
    (11L, null) // null text → length gate (null tokenCount fails >= minTokens)
  ).toDF("doc_id", "text")

  private val benchmark = Seq((100L, "alpha beta gamma delta epsilon"))
    .toDF("doc_id", "text")

  test("curate: every planted hazard is removed by its stage, survivors keep structure") {
    val out = Curation.curate(corpus, benchmark, "doc_id", "text")
    val docs = out.documents.cache()
    val kept = docs.select("doc_id").as[Long].collect().toSet
    // 3 gated (length), 4 (quality), 5 (repetition), 6 (exact dup of 1),
    // 8 (near dup of 7, non-canonical), 9 (contaminated) — all gone
    assert(kept === Set(1L, 2L, 7L, 10L))
    // PII scrubbed in the canonical output text
    val piiText = docs.filter($"doc_id" === 10L).select("text").as[String].head()
    assert(piiText.contains("<EMAIL>") && !piiText.contains("jane.doe"))
    // split column totally partitions the survivors
    assert(docs.filter(!$"split".isin("train", "val", "test")).count() === 0)
    // packed sequences conserve exactly the train split's tokens
    val trainTokens = docs.filter($"split" === "train")
      .select(graft.functions.TextFns.tokenCount($"text").cast("long")).as[Long]
      .collect().sum
    val packedTokens = out.sequences.agg(sum("tok_len")).as[Long].head()
    assert(packedTokens === trainTokens)
    docs.unpersist()
  }

  test("curate: edit-distance verify stage — generous ratio is a no-op, strict keeps both near-dups") {
    val default = Curation.curate(corpus, benchmark, "doc_id", "text")
      .documents.select("doc_id").as[Long].collect().toSet
    // generous bound admits every true near-dup pair → identical output
    val generous = Curation.curate(corpus, benchmark, "doc_id", "text",
      Curation.Config(maxEditRatio = Some(0.5)))
      .documents.select("doc_id").as[Long].collect().toSet
    assert(generous === default)
    // near-zero bound rejects the 7/8 pair (they differ by one word), so
    // BOTH survive as their own cluster canonical; nothing else changes
    val strict = Curation.curate(corpus, benchmark, "doc_id", "text",
      Curation.Config(maxEditRatio = Some(0.001)))
      .documents.select("doc_id").as[Long].collect().toSet
    assert(strict === (default + 8L))
  }

  test("curate: line-dedup gate strips chrome BEFORE hashing — footer differences stop defeating exact dedup") {
    val body = "the parser emits tokens and the planner turns them into a tree quickly"
    val f1 = "subscribe to our wonderful newsletter for updates every single week"
    val f2 = "copyright twenty twenty six all rights reserved by the company"
    val lined = Seq(
      (30L, body + "\n" + f1),                  // same body as 31, different chrome
      (31L, body + "\n" + f2),
      (32L, "nebula quasar photon meson baryon lepton hadron gluon tachyon neutrino positron muon\n" + f1 + "\n" + f2),
      (33L, "one red two blue three green four yellow five purple six orange\n" + f1 + "\n" + f2),
      (34L, "monday tuesday wednesday thursday friday saturday sunday morning noon evening night always\n" + f1 + "\n" + f2)
    ).toDF("doc_id", "text")
    // gate off: 30 and 31 hash differently (chrome differs) → both ship
    val off = Curation.curate(lined, benchmark, "doc_id", "text")
      .documents.select("doc_id").as[Long].collect().toSet
    assert(off === Set(30L, 31L, 32L, 33L, 34L))
    // gate on (df > 3 strips f1 and f2 everywhere): 30 ≡ 31 after the
    // strip → exact dedup keeps the min id; output text carries no chrome
    val on = Curation.curate(lined, benchmark, "doc_id", "text",
      Curation.Config(lineDedupMaxDocFreq = Some(3L)))
    val onKept = on.documents.select("doc_id").as[Long].collect().toSet
    assert(onKept === Set(30L, 32L, 33L, 34L))
    val t30 = on.documents.filter($"doc_id" === 30L).select("text").as[String].head()
    assert(t30 === body)
  }

  test("curate: blocklist ratio gate — mostly-banned doc dies, long doc with one hit ships") {
    val withSpam = corpus.unionByName(Seq(
      (12L, "casino jackpot winner poker casino slots jackpot bets casino prize"),
      (13L, "a single stray casino mention inside an otherwise perfectly ordinary long document here")
    ).toDF("doc_id", "text"))
    val base = Curation.curate(withSpam, benchmark, "doc_id", "text")
      .documents.select("doc_id").as[Long].collect().toSet
    assert(base.contains(12L) && base.contains(13L)) // off by default
    val gated = Curation.curate(withSpam, benchmark, "doc_id", "text",
      Curation.Config(blockTerms = Seq("casino", "jackpot"), blockMaxRatio = 0.2))
      .documents.select("doc_id").as[Long].collect().toSet
    assert(!gated.contains(12L) && gated.contains(13L)) // 8/10 vs 1/14
    assert(gated - 13L === base - 12L - 13L)            // nothing else changes
  }

  test("curate: near-dup canonical keeps the min id; rerun is deterministic") {
    val out1 = Curation.curate(corpus, benchmark, "doc_id", "text").documents
    assert(out1.filter($"doc_id" === 7L).count() === 1) // 7 < 8 → 7 canonical
    val out2 = Curation.curate(corpus, benchmark, "doc_id", "text").documents
    assert(out1.except(out2).count() === 0 && out2.except(out1).count() === 0)
  }

  // delta batch: every incremental stage exercised against the curated
  // corpus state — ids deliberately ABOVE every corpus id (the ingest
  // ordering the drop policy's min-id equivalence relies on)
  private val delta = Seq(
    (20L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of shipped 1
    (21L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen seventeen"), // near dup of shipped 7
    (22L, "red orange yellow green blue indigo violet crimson amber teal navy maroon olive silver gold"),
    (23L, "red orange yellow green blue indigo violet crimson amber teal navy maroon olive silver bronze"), // near dup of 22
    (24L, "red orange yellow green blue indigo violet crimson amber teal navy maroon olive silver gold"), // exact dup of 22
    (25L, "this new document quotes alpha beta gamma delta epsilon verbatim and adds plenty of its own filler words"), // contaminated
    (26L, "tiny doc"), // gated
    (27L, "the committee approved seventeen separate budget proposals during the quarterly planning review session yesterday")
  ).toDF("doc_id", "text")

  test("curateDelta: each incremental stage drops its hazard; union-batch equivalence") {
    // persist-at-arrow: the state frames are re-read many times below
    // (and inside curateDelta); lazy mode re-executes the batch chain per
    // action and turns this test into minutes
    val batch = Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    val state = Curation.stateOf(batch, "doc_id", "text")
    val inc = Curation.curateDelta(state, delta, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    val kept = inc.split.select("doc_id").as[Long].collect().toSet
    // 20 exact-vs-corpus, 21 near-vs-corpus, 23 near-in-delta (22 canonical),
    // 24 exact-in-delta, 25 contaminated, 26 gated -- survivors 22, 27
    assert(kept === Set(22L, 27L))
    // batch-equivalence: curating corpus+delta together ships exactly the
    // corpus survivors plus the incremental survivors (corpus ids precede
    // delta ids, so min-id canonical decisions coincide; no near-dup chain
    // here passes through a retired doc)
    val unionKept = Curation.curate(corpus.unionByName(delta), benchmark, "doc_id", "text")
      .documents.select("doc_id").as[Long].collect().toSet
    val corpusKept = batch.split.select("doc_id").as[Long].collect().toSet
    assert(unionKept === (corpusKept ++ kept))
    // packing continues the corpus shards: total packed tokens across the
    // two batches conserve train tokens of both, and no sequence position
    // is written twice (piece spans are disjoint within every shard)
    val allPieces = batch.packed.select("shard", "seq", "tok_len")
      .unionByName(inc.packed.select("shard", "seq", "tok_len"))
    val packed = allPieces.agg(sum("tok_len")).as[Long].head()
    val trainTok = batch.split.unionByName(inc.split)
      .filter($"split" === "train")
      .select(graft.functions.TextFns.tokenCount($"text").cast("long")).as[Long]
      .collect().sum
    assert(packed === trainTok)
    // every fully-interior sequence is exactly budget-sized; at most one
    // partial (the last) per shard across the combined stream
    val fills = allPieces.groupBy("shard", "seq").agg(sum("tok_len").as("fill"))
    val partials = fills.join(
        fills.groupBy("shard").agg(max("seq").as("last")), Seq("shard"))
      .filter($"fill" =!= 2048L && $"seq" =!= $"last").count()
    assert(partials === 0, "a non-final sequence is not exactly budget tokens")
  }

  test("CorpusState round-trips through parquet: resumed delta identical to in-session state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_rt").toString
    val batch = Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    val state = Curation.stateOf(batch, "doc_id", "text")
    Curation.saveState(state, dir)
    val reloaded = Curation.loadState(spark, dir)
    // every frame is a lazy storage scan — the corpus never sits on the driver
    assert(reloaded.docs.queryExecution.executedPlan.toString.contains("Scan parquet"))
    val fromMem = Curation.curateDelta(state, delta, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    val fromDisk = Curation.curateDelta(reloaded, delta, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    assert(fromDisk.split.select("doc_id").as[Long].collect().toSet ===
      fromMem.split.select("doc_id").as[Long].collect().toSet)
    // offset-continued packing resumes identically from the reloaded offsets
    assert(fromDisk.packed.select("shard", "seq", "tok_len").collect().toSet ===
      fromMem.packed.select("shard", "seq", "tok_len").collect().toSet)
    assert(fromDisk.counts === fromMem.counts)
  }

  test("bucketed CorpusState: resumed delta identical to the loose-parquet round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_rtb").toString
    val batch = Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    val state = Curation.stateOf(batch, "doc_id", "text")
    Curation.saveState(state, dir, bucketIdCol = Some("doc_id"))
    val reloaded = Curation.loadState(spark, dir)
    val fromMem = Curation.curateDelta(state, delta, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    val fromDisk = Curation.curateDelta(reloaded, delta, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    assert(fromDisk.split.select("doc_id").as[Long].collect().toSet ===
      fromMem.split.select("doc_id").as[Long].collect().toSet)
    assert(fromDisk.packed.select("shard", "seq", "tok_len").collect().toSet ===
      fromMem.packed.select("shard", "seq", "tok_len").collect().toSet)
    assert(fromDisk.counts === fromMem.counts)
  }

  test("storage-mode stages: identical counts and frames to cache mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stages_store").toString
    val lazyRun = Curation.stages(corpus, benchmark, "doc_id", "text")
    val cached = Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = true))
    val stored = Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Stored(dir))
    assert(stored.counts === cached.counts)
    assert(lazyRun.counts.isEmpty)
    // the stage frames really live on storage (and are what downstream read)
    assert(new java.io.File(s"$dir/input.parquet").exists())
    assert(new java.io.File(s"$dir/packed.parquet").exists())
    assert(stored.packed.queryExecution.executedPlan.toString.contains("Scan parquet"))
    // row-level equality of every stage frame (as multisets), not just
    // counts: the boundary policy moves no row in or out of any stage
    def frames(st: Curation.Stages) = Seq("input" -> st.input, "quality" -> st.quality,
      "spanGated" -> st.spanGated, "exact" -> st.exact, "deduped" -> st.deduped,
      "clean" -> st.clean, "split" -> st.split, "packed" -> st.packed)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupMapReduce(identity)(_ => 1)(_ + _)
    def sameFrames(tag: String, a: Curation.Stages, b: Curation.Stages): Unit =
      for (((name, fa), (_, fb)) <- frames(a).zip(frames(b)))
        assert(bag(fa) === bag(fb), s"$tag: stage $name differs")
    sameFrames("lazy vs cached", lazyRun, cached)
    sameFrames("stored vs cached", stored, cached)
    // the delta chain on the qc02 fixture: lazy and cached stage frames agree
    val (corpusRaw, benchD, deltaD) = graft.queries.CurationQ.fixtureDelta(spark, sf)
    val cfgD = graft.queries.CurationQ.cfgDelta
    val state = Curation.stateOf(Curation.stages(corpusRaw, benchD, "doc_id", "text", cfgD,
      Curation.Cached(release = false)), "doc_id", "text")
    val cachedDelta = Curation.curateDelta(state, deltaD, benchD, "doc_id", "text", cfgD,
      Curation.Cached(release = true))
    val lazyDelta = Curation.curateDelta(state, deltaD, benchD, "doc_id", "text", cfgD)
    assert(lazyDelta.counts.isEmpty && cachedDelta.counts("input") > 0)
    sameFrames("delta lazy vs cached", lazyDelta, cachedDelta)
  }

  test("persist + release stages: a failing stage leaves no cache entry behind") {
    // one raise_error row fails the run at the input boundary, then at the
    // decontamination boundary — after five stages and the near-dup
    // components were cached. Every stage still held is released on the
    // way out. repartition keeps the optimizer from folding the local rows
    // at plan time.
    val before = cachedEntries
    def boom(df: org.apache.spark.sql.DataFrame, id: Long) = df.repartition(2)
      .withColumn("text", when($"doc_id" === id, raise_error(lit("stage boom"))).otherwise($"text"))
    for ((docs, bench) <- Seq((boom(corpus, 2L), benchmark), (corpus, boom(benchmark, 100L)))) {
      val e = intercept[Exception](Curation.stages(docs, bench, "doc_id", "text",
        mode = Curation.Cached(release = true)))
      assert(raisedWith(e, "stage boom"), e.toString)
      assert(cachedEntries === before)
    }
  }

  test("storage-mode stages resume mid-pipeline: surviving prefix untouched, output bit-identical") {
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rmrf)
      f.delete(): Unit
    }
    def fileSet(dir: String, stage: String): Set[String] = {
      val d = new java.io.File(s"$dir/$stage.parquet")
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(f => f.getName + ":" + f.length).toSet
    }
    // uninterrupted reference run
    val refDir = java.nio.file.Files.createTempDirectory("graft_resume_ref").toString
    val ref = Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Stored(refDir))
    // the run that "crashes" after the exact stage
    val crashDir = java.nio.file.Files.createTempDirectory("graft_resume_crash").toString
    Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Stored(crashDir)): Unit
    // downstream of the crash point: gone entirely
    for (s <- Seq("neardup", "pairs", "split", "packed")) {
      val d = new java.io.File(s"$crashDir/$s.parquet")
      assert(d.exists(), s"$s.parquet missing before the simulated crash")
      rmrf(d)
    }
    // and one stage died MID-WRITE: files present but no _SUCCESS marker —
    // resume must treat it as dead and rewrite, never trust partial data
    assert(new java.io.File(s"$crashDir/clean.parquet/_SUCCESS").delete())
    val partialBefore = fileSet(crashDir, "clean")
    // the surviving prefix (default config ⇒ no span gate ⇒ no spans file)
    val prefix = Seq("input", "quality", "exact")
    val before = prefix.map(s => s -> fileSet(crashDir, s)).toMap
    assert(before.values.forall(_.nonEmpty))

    val resumed = Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Stored(crashDir, resume = true))
    // 1. bit-identical terminal frames + packed stats vs the uninterrupted run
    assert(resumed.counts === ref.counts)
    assert(resumed.split.collect().toSet === ref.split.collect().toSet)
    assert(resumed.packed.collect().toSet === ref.packed.collect().toSet)
    // 2. the surviving prefix was READ, not recomputed: same part files
    //    (an overwrite mints fresh task-UUID part names)
    prefix.foreach(s => assert(fileSet(crashDir, s) === before(s),
      s"resume rewrote surviving stage $s"))
    // 3. the partial stage was rewritten, committed, and now has a marker
    assert(fileSet(crashDir, "clean") !== partialBefore,
      "resume trusted a stage with no _SUCCESS marker")
    assert(new java.io.File(s"$crashDir/clean.parquet/_SUCCESS").exists())
    // 4. downstream stages exist again
    for (s <- Seq("neardup", "split", "packed"))
      assert(new java.io.File(s"$crashDir/$s.parquet/_SUCCESS").exists())
  }

  test("state store mode switch: plain save over a bucketed dir clears marker + tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state_ms").toString
    val batch = Curation.stages(corpus, benchmark, "doc_id", "text",
      mode = Curation.Cached(release = false))
    val state = Curation.stateOf(batch, "doc_id", "text")
    val indexed = state.copy(nearDupIndex =
      Some(graft.operators.Dedup.nearDupIndexOf(state.docs, "doc_id", "text", 3)))
    Curation.saveState(indexed, dir, bucketIdCol = Some("doc_id"))
    def bucketedRead(st: Curation.CorpusState): Boolean =
      st.docs.queryExecution.executedPlan.toString.contains("Bucketed")
    assert(bucketedRead(Curation.loadState(spark, dir)))
    // the hazard: re-save plain over the same dir — the old generation's
    // bucket metadata must not cover the new non-bucketed part files
    // (wrong reads or 'Invalid bucket file'), and its index must not outlive it
    Curation.saveState(state, dir, bucketIdCol = None)
    assert(!spark.catalog.tableExists(graft.sources.Artifacts.tableName(dir, "docs")) &&
      !spark.catalog.tableExists(graft.sources.Artifacts.tableName(dir, "fingerprints")),
      "stale catalog tables survived a plain save")
    assert(!new java.io.File(s"$dir/neardup_index").exists(),
      "a state saved without an index left an orphaned neardup_index/")
    val reloaded = Curation.loadState(spark, dir)
    assert(!bucketedRead(reloaded), "plain state reloaded as a bucketed read")
    assert(reloaded.nearDupIndex.isEmpty)
    assert(reloaded.docs.count() === state.docs.count())
  }

  test("stateTableName: distinct dirs that sanitize identically stay distinct") {
    // corpus-state parts are named by the shared artifact namer
    assert(graft.sources.Artifacts.tableName("/tmp/a/b", "docs") !==
      graft.sources.Artifacts.tableName("/tmp/a_b", "docs"))
  }

  // --- boilerplate span gate (Lee et al. 2021) ---
  // a 10-token template shared verbatim across docs whose SURROUNDING text
  // differs — document-level Jaccard at 0.85 never pairs them (J ≈ 0.2-0.6
  // here), which is exactly the signal the substring-granular gate exists for
  private val boiler =
    "subscribe to our newsletter today for updates about new products"
  private val longTail = "granite meadow copper lantern violet harbor sierra " +
    "walnut ember prairie falcon marble cedar canyon russet willow quartz " +
    "juniper cobalt summit"                                     // 20 distinct tokens
  private val spanCfg = Curation.Config(
    maxDupSpanFrac = Some(0.5), dupSpanWidth = 5, dupSpanMinDocs = 3)

  test("curate: span gate drops template-heavy docs Jaccard can't see; off by default") {
    val corpus = Seq(
      (31L, s"$boiler plus alpha ending"),   // 13 tokens, 10 covered → 0.77
      (32L, s"$boiler plus bravo ending"),
      (33L, s"opening words here $boiler"),  // template at the tail — position-free
      (34L, s"$boiler $longTail"),           // 30 tokens, 10 covered → 0.33 ships
      (35L, "entirely original sentence with plenty of ordinary words to pass the gates")
    ).toDF("doc_id", "text")
    // gate off (default config): none of the planted docs pair at J >= 0.85,
    // so every one ships — the document-level stages are blind to the template
    val off = Curation.curate(corpus, benchmark, "doc_id", "text")
      .documents.select("doc_id").as[Long].collect().toSet
    assert(off === Set(31L, 32L, 33L, 34L, 35L))
    // gate on: the three >50%-template docs die at the span stage; the doc
    // where the same template is a minority span ships
    val on = Curation.curate(corpus, benchmark, "doc_id", "text", spanCfg)
      .documents.select("doc_id").as[Long].collect().toSet
    assert(on === Set(34L, 35L))
  }

  test("curateDelta: span gate counts windows over corpus ∪ delta, judges delta only") {
    // two SHIPPED docs carry the template: below minDocs=3 at batch time,
    // so the batch gate keeps both (windows in 2 docs only)
    val corpus = Seq(
      (41L, s"$boiler $longTail"),
      (42L, s"$boiler elm oak fir ash yew pine birch maple aspen spruce " +
        "hazel rowan alder beech larch hornbeam poplar sycamore chestnut lime"),
      (43L, "a plain corpus document with enough ordinary words to clear every gate")
    ).toDF("doc_id", "text")
    val batch = Curation.stages(corpus, benchmark, "doc_id", "text", spanCfg,
      mode = Curation.Cached(release = false))
    assert(batch.split.select("doc_id").as[Long].collect().toSet ===
      Set(41L, 42L, 43L))
    val state = Curation.stateOf(batch, "doc_id", "text")
    // the arriving template copy makes 3 distinct docs corpus-wide — the
    // DELTA doc gates out (0.83 > 0.5) even though within the delta alone
    // its windows are unique; the unrelated arrival ships
    val delta = Seq(
      (51L, s"$boiler closing words"),
      (52L, "fresh unrelated sentence with sufficient ordinary words to pass cleanly")
    ).toDF("doc_id", "text")
    val inc = Curation.curateDelta(state, delta, benchmark, "doc_id", "text",
      spanCfg, Curation.Cached(release = false))
    assert(inc.split.select("doc_id").as[Long].collect().toSet === Set(52L))
    // shipped corpus docs are never re-judged: the state is untouched input
    assert(state.docs.count() === 3)
  }
}
