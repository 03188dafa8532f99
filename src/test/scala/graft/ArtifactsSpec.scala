package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Retrieval}
import graft.pipeline.Curation
import graft.sources.Artifacts

class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "a completely different sentence with many ordinary words that is long enough to keep"),
    (7L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen")
  ).toDF("doc_id", "text")
  private val delta = Seq(
    (20L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (21L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen seventeen"), // near dup of 7
    (22L, "red orange yellow green blue indigo violet crimson amber teal navy maroon olive silver gold"),
    (23L, "red orange yellow green blue indigo violet crimson amber teal navy maroon olive silver bronze")
  ).toDF("doc_id", "text")
  private val benchmark = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")

  /** `df` whose write dies partway: only the task holding the first row's
    * `c` value throws, so the other tasks may already have written files.
    */
  private def failingOn(df: DataFrame, c: String): DataFrame = {
    val key = df.select(col(c)).head().get(0)
    df.withColumn(c, when(col(c) === lit(key), raise_error(lit("interrupted write")))
      .otherwise(col(c)))
  }

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    graft.sources.Tables.deleteOnExit(dir)
    dir
  }

  /** Run `body` with the session's shuffle partitions set to `n`. */
  private def atPartitions[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The final (post-AQE) executed plan of `df`, after running it. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("bucket count: a bucketed part holds the writing session's shuffle partitions") {
    val suiteCount = spark.conf.get("spark.sql.shuffle.partitions").toInt
    for (n <- Seq(suiteCount, 8)) {
      val dir = tmp("graft_layout")
      // 400 distinct keys: every one of n hash buckets receives rows
      atPartitions(n)(Artifacts.write(dir, "layout",
        Seq(Artifacts.Part("p", spark.range(400).toDF("k"), Some("k")))))
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt === suiteCount)
      val files = new java.io.File(dir, "p").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      val bucketIds = files.map(f => ".*_(\\d+)(?:\\..*)?$".r.findFirstMatchIn(f).get.group(1).toInt)
      assert(files.length === n, s"expected $n bucket files, found ${files.mkString(", ")}")
      assert(bucketIds.toSet === (0 until n).toSet)
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, Artifacts.ManifestName)), "UTF-8")
      assert(manifest.split("\n").exists(_.startsWith(s"part\tp\tk\t$n\t")), manifest)
    }
  }

  test("cross-session read: a store saved at 8 partitions serves bucketed in the 4-partition session") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val q = Seq((7L, "quick brown fox"), (8L, "seven eight nine")).toDF("query_id", "qtext")
    val built = Retrieval.bm25Index(corpus)
    val inSession = Retrieval.bm25TopKIndexed(built, q, k = 3).collect().toSet
    val dir = tmp("graft_bm25_x")
    atPartitions(8)(Retrieval.saveBm25Index(built, dir, bucketed = true))
    // a fresh session knows only the files: re-register from the manifest
    Seq("postings", "dfreq").foreach(p => spark.sql("DROP TABLE " + Artifacts.tableName(dir, p)))
    val reloaded = Retrieval.loadBm25Index(spark, dir)
    assert(Retrieval.bm25TopKIndexed(reloaded, q, k = 3).collect().toSet === inSession)

    val terms = Seq("quick", "seven", "nine").toDF("term")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the store keeps its 8 buckets; only the query side is shuffled, to 8
      val p = finalPlan(reloaded.postings.join(terms, "term"))
      assert(p.contains("SelectedBucketsCount"), s"postings scan is not bucketed:\n$p")
      val termEx = "Exchange hashpartitioning\\(term#\\d+, (\\d+)".r.findAllMatchIn(p).map(_.group(1)).toList
      assert(termEx === List("8"), s"postings side re-shuffled:\n$p")
      // the reverse case the Artifacts scaladoc names: a reader with MORE
      // partitions than the store has buckets, joining against a side
      // already hash-partitioned at its own count, re-shuffles the store
      val pMore = atPartitions(16)(finalPlan(reloaded.postings.join(terms.distinct(), "term")))
      assert("Exchange hashpartitioning\\(term#\\d+, 16\\)".r.findAllIn(pMore).length === 2, pMore)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
  }

  test("tableName: distinct dirs that sanitize identically stay distinct") {
    // one namer for every bucketed store (BM25, corpus state, trade edges)
    assert(Artifacts.tableName("/tmp/a/b", "postings") !==
      Artifacts.tableName("/tmp/a_b", "postings"))
    assert(Artifacts.tableName("/tmp/a/b", "docs") !==
      Artifacts.tableName("/tmp/a/b", "fingerprints"))
  }

  test("interrupted re-save: a store loads whole or absent, never the old generation or a mix") {
    val built = Retrieval.bm25Index(corpus)
    for (bucketed <- Seq(false, true)) {
      val dir = tmp("graft_bm25_int")
      Retrieval.saveBm25Index(built, dir, bucketed)
      Retrieval.loadBm25Index(spark, dir): Unit
      // postings of the new generation land, then dfreq dies mid-write
      intercept[Exception](Retrieval.saveBm25Index(
        built.copy(dfreq = failingOn(built.dfreq, "term")), dir, bucketed))
      intercept[java.io.FileNotFoundException](Retrieval.loadBm25Index(spark, dir))
    }

    val fps = corpus.select(graft.functions.TextFns.fingerprint($"text").as("fp")).distinct()
    val state = Curation.CorpusState(corpus, fps, Seq((0, 0L)).toDF("shard", "offset_tokens"))
    val ix = Dedup.nearDupIndexOf(corpus, "doc_id", "text", 3)
    val dir = tmp("graft_state_int")
    Curation.saveState(state.copy(nearDupIndex = Some(ix)), dir)
    assert(Curation.loadState(spark, dir).nearDupIndex.map(_.n) === Some(3))
    // the state commits, then its nested near-dup index dies mid-write:
    // the state loads without an index, never with the older corpus's one
    intercept[Exception](Curation.saveState(
      state.copy(nearDupIndex = Some(ix.copy(sized = failingOn(ix.sized, "__id")))), dir))
    val reloaded = Curation.loadState(spark, dir)
    assert(reloaded.nearDupIndex.isEmpty)
    def served(st: Curation.CorpusState) = {
      val out = Curation.curateDelta(st, delta, benchmark, "doc_id", "text")
      (out.split.collect().toSet, out.packed.collect().toSet)
    }
    val noIndex = served(state)
    assert(noIndex._1.map(_.getLong(0)) === Set(22L))
    assert(served(reloaded) === noIndex)
    // a state part dying mid-write leaves the whole state absent
    intercept[Exception](Curation.saveState(state.copy(fingerprints = failingOn(fps, "fp")),
      dir, bucketIdCol = Some("doc_id")))
    intercept[java.io.FileNotFoundException](Curation.loadState(spark, dir))

    // a manifest that is present but of another kind, or unreadable, fails loudly
    val bm25Dir = tmp("graft_bm25_kind")
    Retrieval.saveBm25Index(built, bm25Dir)
    intercept[IllegalStateException](Curation.loadState(spark, bm25Dir))
    val manifest = java.nio.file.Paths.get(bm25Dir, Artifacts.ManifestName)
    val text = new String(java.nio.file.Files.readAllBytes(manifest), "UTF-8")
    java.nio.file.Files.write(manifest, text.take(text.length / 2).getBytes("UTF-8"))
    intercept[IllegalStateException](Retrieval.loadBm25Index(spark, bm25Dir))
  }
}
