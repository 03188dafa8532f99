package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval
import graft.sources.Artifacts

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "spark shuffle partitions tuning guide"),
    (1L, "spark spark spark everywhere spark"),
    (2L, "cooking pasta with garlic and olive oil"),
    (3L, "zebra migration patterns in the serengeti"),
    (4L, "spark catalyst optimizer internals deep dive"),
    (5L, "garlic bread recipe with olive oil and parmesan cheese today")
  ).toDF("doc_id", "text")

  test("bm25TopK: rare terms dominate, tf saturates, k bound and ordering hold") {
    val q = Seq((100L, "zebra serengeti"), (101L, "spark optimizer")).toDF("query_id", "qtext")
    val got = Retrieval.bm25TopK(corpus, q, k = 3)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4)).toMap
    // the zebra query matches only doc 3 — both terms rare, nothing else scores
    assert(got(100L).map(_._2).toSeq === Seq(3L))
    // doc 4 matches both query terms (incl. rare "optimizer"); docs 0/1
    // match only the common "spark" — idf must put doc 4 first
    val sparkQ = got(101L)
    assert(sparkQ.head._2 === 4L, s"expected doc 4 first: $sparkQ")
    assert(sparkQ.forall(_._4 <= 3) && sparkQ.map(_._4).toSeq === (1 to sparkQ.length))
    // scores are non-increasing in rank
    assert(sparkQ.map(_._3).toSeq === sparkQ.map(_._3).sortBy(-_).toSeq)
    // tf saturation: doc 1 repeats "spark" 4x but cannot out-rank the
    // two-term match — and still scores ABOVE the single-mention docs
    val byDoc = sparkQ.map(t => t._2 -> t._3).toMap
    assert(byDoc.contains(1L) && byDoc(1L) < byDoc(4L))
  }

  test("bm25TopK: deterministic across runs; empty-match queries return no rows") {
    val q = Seq((7L, "garlic oil"), (8L, "quantum chromodynamics")).toDF("query_id", "qtext")
    val a = Retrieval.bm25TopK(corpus, q, k = 5).as[(Long, Long, Double, Int)].collect().toSet
    val b = Retrieval.bm25TopK(corpus, q, k = 5).as[(Long, Long, Double, Int)].collect().toSet
    assert(a === b)
    // no shared term → the inverted-index join yields nothing (no padding)
    assert(!a.exists(_._1 == 8L))
    // both garlic docs retrieved for the garlic query
    assert(a.filter(_._1 == 7L).map(_._2) === Set(2L, 5L))
  }

  test("bm25TopK maxDf: hot query terms pruned before the postings join") {
    // "spark" is in 3 of 6 docs (df=3); "optimizer" in 1. A cap of 2 must
    // drop the hot term: docs matching ONLY "spark" (0, 1) disappear and
    // the ranking equals a query for the rare term alone
    val q = Seq((101L, "spark optimizer")).toDF("query_id", "qtext")
    val capped = Retrieval.bm25TopK(corpus, q, k = 5, maxDf = Some(2.0))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(capped.map(_._2) === Set(4L), s"cap should leave only the rare-term match: $capped")
    val rareOnly = Retrieval.bm25TopK(corpus,
        Seq((101L, "optimizer")).toDF("query_id", "qtext"), k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(capped === rareOnly, "capped two-term ranking must equal the rare-term-only ranking")
    // a generous cap is a no-op
    val uncapped = Retrieval.bm25TopK(corpus, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val generous = Retrieval.bm25TopK(corpus, q, k = 5, maxDf = Some(1e9))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(generous === uncapped)
  }

  test("rrfFuse: both-system docs outrank single-system; one-sided docs still score; k bound") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("query_id", "doc_id", "rnk")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2)).toDF("query_id", "doc_id", "rnk")
    val fused = Retrieval.rrfFuse(a, b, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    // doc 11 is the only both-system doc: 1/62 + 1/61 beats every single score
    assert(fused.head._2 === 11L)
    // one-sided docs survive with their single term: 10 (1/61) > 13 (1/62) > 12 (1/63)
    assert(fused.map(_._2).toSeq === Seq(11L, 10L, 13L, 12L))
    // scores are the exact two-term sums
    val s11 = fused.find(_._2 == 11L).get._3
    assert(math.abs(s11 - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    // k bound respected
    val top2 = Retrieval.rrfFuse(a, b, k = 2).as[(Long, Long, Double, Int)].collect()
    assert(top2.length === 2 && top2.map(_._4).toSet === Set(1, 2))
  }

  test("bm25 persisted index round-trips: reloaded serve is bit-identical, frames stay lazy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx").toString
    val q = Seq((7L, "garlic oil"), (101L, "spark optimizer")).toDF("query_id", "qtext")
    val built = Retrieval.bm25Index(corpus)
    val inSession = Retrieval.bm25TopKIndexed(built, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    Retrieval.saveBm25Index(built, dir)
    val reloaded = Retrieval.loadBm25Index(spark, dir)
    val served = Retrieval.bm25TopKIndexed(reloaded, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served === inSession)
    // the one-shot path is definitionally build+serve of the same index
    val oneShot = Retrieval.bm25TopK(corpus, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served === oneShot)
    // the reloaded postings frame is a parquet scan, not a derived plan —
    // the 100 TB store is served in place, never rebuilt or collected
    assert(reloaded.postings.queryExecution.executedPlan.toString.contains("Scan parquet"))
    // the df-cap prunes identically against a reloaded index
    val capped = Retrieval.bm25TopKIndexed(reloaded, q, k = 5, maxDf = Some(2.0))
      .as[(Long, Long, Double, Int)].collect().toSet
    val cappedDirect = Retrieval.bm25TopK(corpus, q, k = 5, maxDf = Some(2.0))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(capped === cappedDirect)
  }

  test("bucketed bm25 store: bit-identical serve, term-bucketed reads, re-registration") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_b").toString
    val q = Seq((7L, "garlic oil"), (101L, "spark optimizer")).toDF("query_id", "qtext")
    val built = Retrieval.bm25Index(corpus)
    val inSession = Retrieval.bm25TopKIndexed(built, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    Retrieval.saveBm25Index(built, dir, bucketed = true)
    val reloaded = Retrieval.loadBm25Index(spark, dir)
    val served = Retrieval.bm25TopKIndexed(reloaded, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served === inSession)
    // the postings read carries its bucket metadata: a term-keyed
    // aggregate runs without an exchange on the bucket key
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevP = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.shuffle.partitions", "32") // match store buckets
      val agg = reloaded.postings.groupBy($"term").agg(sum($"tf").as("s"))
      agg.collect()
      val p = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(p.contains("SelectedBucketsCount") &&
        !p.contains("Exchange hashpartitioning(term"),
        s"postings lost their term bucketing:\n$p")
      // fresh-session path: drop the external tables, loadBm25Index
      // re-registers from the manifest over the same files
      spark.sql("DROP TABLE " + Artifacts.tableName(dir, "postings"))
      spark.sql("DROP TABLE " + Artifacts.tableName(dir, "dfreq"))
      val again = Retrieval.loadBm25Index(spark, dir)
      val servedAgain = Retrieval.bm25TopKIndexed(again, q, k = 5)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(servedAgain === inSession)
      val p2 = { val a = again.dfreq.groupBy($"term").agg(sum($"df").as("s"))
        a.collect(); a.queryExecution.executedPlan.toString.split("== Initial Plan ==").head }
      assert(p2.contains("SelectedBucketsCount") &&
        !p2.contains("Exchange hashpartitioning(term"),
        s"re-registered dfreq lost its bucketing:\n$p2")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.shuffle.partitions", prevP)
    }
  }

  test("bm25 store mode switch: plain save over a bucketed dir clears marker + tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_ms").toString
    val q = Seq((7L, "garlic oil")).toDF("query_id", "qtext")
    val built = Retrieval.bm25Index(corpus)
    Retrieval.saveBm25Index(built, dir, bucketed = true)
    def bucketedRead(ix: Retrieval.Bm25Index): Boolean =
      ix.postings.queryExecution.executedPlan.toString.contains("Bucketed")
    assert(bucketedRead(Retrieval.loadBm25Index(spark, dir)))
    // re-save plain over the same dir: the new manifest must not let the
    // old generation's CLUSTERED BY tables cover plain part files
    Retrieval.saveBm25Index(built, dir, bucketed = false)
    assert(!spark.catalog.tableExists(Artifacts.tableName(dir, "postings")) &&
      !spark.catalog.tableExists(Artifacts.tableName(dir, "dfreq")),
      "stale catalog tables survived a plain save")
    val reloaded = Retrieval.loadBm25Index(spark, dir)
    assert(!bucketedRead(reloaded), "plain store reloaded as a bucketed read")
    val served = Retrieval.bm25TopKIndexed(reloaded, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Retrieval.bm25TopK(corpus, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served === direct)
  }

  test("indexTableName: distinct dirs that sanitize identically stay distinct") {
    // BM25 parts are named by the shared artifact namer
    assert(Artifacts.tableName("/tmp/a/b", "postings") !==
      Artifacts.tableName("/tmp/a_b", "postings"))
  }

  test("hashEmbedding: deterministic, dimension-correct, text-sensitive") {
    import graft.operators.Similarity
    val df = Seq("alpha beta", "alpha beta", "gamma").toDF("t")
      .select(Similarity.hashEmbedding($"t", 16).as("e"))
    val got = df.as[Seq[Float]].collect()
    assert(got.forall(_.length == 16))
    assert(got(0) === got(1), "same text must embed identically")
    assert(got(0) !== got(2), "different text must embed differently")
    assert(got(0).forall(v => v >= -1.0f && v <= 1.0f))
  }

  test("hashEmbedding: native codegen'd expression bit-identical to the Column form") {
    import graft.operators.Similarity
    // the differential gate the lshBucket conversion established: the
    // production path changed engines (HOF Columns → native expression),
    // the DuckDB oracle did not — so the two must agree to the bit, on
    // plain text, unicode, whitespace runs, and the empty string
    val texts = Seq("alpha beta gamma", "", "  ", "héllo wörld ünïcode",
      "a", ("tok " * 200).trim)
    val df = texts.toDF("t").select(
      Similarity.hashEmbedding($"t", 16).as("native"),
      Similarity.hashEmbeddingColumns($"t", 16).as("cols"))
    df.collect().foreach { r =>
      assert(r.getSeq[Float](0) === r.getSeq[Float](1))
    }
  }

  test("qr01 composed retrieval: full rank lists per query, bounded scores, deterministic") {
    // the hash-embedding dense leg is deterministic but semantically
    // arbitrary (it hashes the text, it doesn't understand it), so the
    // invariants here are structural; self-retrieval quality belongs to a
    // real encoder column
    def run() = SparkEntry.queries("qr01_retrieval")(spark, sf)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    val a = run()
    assert(a.map(_._1) === (0L to 4L).toSet)
    a.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.size === 10, s"query $q: ${rows.size} rows")
      assert(rows.map(_._5) === (1 to 10).toSet, s"query $q ranks not 1..10")
    }
    // an RRF score is at most 1/61 + 1/61 (rank 1 in both systems)
    assert(a.forall(r => r._4 > 0.0 && r._4 <= 2.0 / 61 + 1e-6))
    assert(run() === a, "composed pipeline must be run-deterministic")
  }
}
