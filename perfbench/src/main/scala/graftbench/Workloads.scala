package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Pack, Retrieval, Similarity}

/** Times the phases of one op and tags the Spark jobs each phase launches
  * with the job group `op<seq>/<phase>`, which the trace uses to charge
  * jobs that carry no graft call site.
  */
final class Phases(spark: SparkSession, val seq: Int) {
  val seconds: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  /** A top-level phase: build, plan or exec. */
  def apply[T](phase: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(s"op$seq/$phase", phase)
    try span(phase)(body) finally spark.sparkContext.clearJobGroup()
  }

  /** A named span nested in a phase, e.g. `operators.Retrieval.save`. */
  def span[T](name: String)(body: => T): T = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally {
      seconds(name) += (System.nanoTime() - t0) / 1e9
      spans += ((name, w0, System.currentTimeMillis()))
    }
  }
}

/** What one op produced: the digest of its result, or None when the harness
  * must take it with [[Op.verify]] after the op's timer stops; and, for ops
  * with an oracle, the frame the check pass writes out.
  */
final case class Outcome(digest: Option[Digest], frame: Option[DataFrame])

trait Op {
  def name: String
  /** Oracle SQL the check pass compares this op's frame against. */
  def oracle: Option[String] = None
  def run(ph: Phases): Outcome
  def verify(): Digest = throw new IllegalStateException(s"$name has no deferred digest")
}

/** A catalog entry: build the frame, force its physical plan, consume it. */
final class EntryOp(val name: String, spark: SparkSession, data: String) extends Op {
  private val fn = SparkEntry.queries(name)
  override def oracle: Option[String] = SparkEntry.oracleSql.get(name)
  def run(ph: Phases): Outcome = {
    val df = ph("build")(fn(spark, data))
    ph("plan")(df.queryExecution.executedPlan)
    Outcome(Some(ph("exec")(Consume.digest(df))), Some(df))
  }
}

/** The RAG artifact set and its two ops.
  *
  * A build writes what qr02's index build writes, into a fresh directory:
  * the chunk store, the BM25 index saved bucketed on term, and the hash
  * embedding of every chunk. A serve answers one panel of query documents
  * through qr02's chain against the newest build: load the index, BM25
  * top-k over it beside brute-force cosine top-k, fused by RRF.
  */
final class Rag(spark: SparkSession, data: String, root: String) {
  val K = 10
  val Dim = 16
  private var builds = 0
  @volatile var current: String = ""

  private def docs: DataFrame = graft.sources.Tables.table(spark, data, "documents")

  private def chunkStore: DataFrame =
    Pack.chunkTokens(docs, "doc_id", "text", window = 32, stride = 24)
      .select(struct(col("doc_id"), col("chunk_id")).as("ck"), col("chunk_text"))

  def queries(panel: Seq[Long]): DataFrame =
    docs.filter(col("doc_id").isin(panel: _*))
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))

  /** qr01/qr02's fusion tail over a sparse result and a chunk embedding table. */
  def fuse(sparse: DataFrame, chunkEmb: DataFrame, q: DataFrame): DataFrame = {
    val qEmb = q.select(
      struct(col("query_id").as("doc_id"), lit(-1L).as("chunk_id")).as("vid"),
      Similarity.hashEmbedding(col("qtext"), Dim).as("emb"))
    val dense = Similarity.bruteForceTopK(chunkEmb, qEmb, k = K, idCol = "vid", vecCol = "emb")
      .select(col("query_id.doc_id").as("query_id"), col("corpus_id").as("ck"), col("rnk"))
    Retrieval.rrfFuse(sparse.select(col("query_id"), col("ck"), col("rnk")), dense, k = K, idCol = "ck")
      .select(col("query_id"), col("ck.doc_id").as("doc_id"), col("ck.chunk_id").as("chunk_id"),
        col("rrf_score"), col("rnk"))
  }

  /** The same panels answered in-query, with no persisted artifact (qr01). */
  def inQuery(panelDocs: Seq[Long]): DataFrame = {
    val chunks = chunkStore.localCheckpoint()
    val q = queries(panelDocs)
    val sparse = Retrieval.bm25TopK(chunks, q, k = K, idCol = "ck", textCol = "chunk_text")
    fuse(sparse, chunks.select(col("ck").as("vid"),
      Similarity.hashEmbedding(col("chunk_text"), Dim).as("emb")), q)
  }

  private def artifactDigest(dir: String): Digest = {
    val ds = Seq("chunks", "bm25/postings", "bm25/doclens", "bm25/dfreq", "bm25/stats", "emb")
      .map(sub => Consume.digest(spark.read.parquet(s"$dir/$sub")))
    Digest(ds.map(_.rows).sum, ds.map(_.hash).sum)
  }

  val build: Op = new Op {
    val name = "rag_build"
    private var previous = ""
    def run(ph: Phases): Outcome = {
      builds += 1
      val dir = s"$root/index-$builds"
      previous = current
      ph("exec") {
        chunkStore.write.mode("overwrite").parquet(s"$dir/chunks")
        val stored = spark.read.parquet(s"$dir/chunks")
        val index = Retrieval.bm25Index(stored, "ck", "chunk_text")
        ph.span("operators.Retrieval.save")(Retrieval.saveBm25Index(index, s"$dir/bm25", bucketed = true))
        stored.select(col("ck").as("vid"), Similarity.hashEmbedding(col("chunk_text"), Dim).as("emb"))
          .write.mode("overwrite").parquet(s"$dir/emb")
      }
      current = dir
      Outcome(None, None)
    }
    override def verify(): Digest = {
      if (previous.nonEmpty) Main.deleteTree(new java.io.File(previous))
      artifactDigest(current)
    }
  }

  def serve(panelName: String, panel: Seq[Long], oracleSql: Option[String] = None): Op = new Op {
    val name = panelName
    override def oracle: Option[String] = oracleSql
    def run(ph: Phases): Outcome = {
      val dir = current
      val df = ph("build") {
        val index = ph.span("operators.Retrieval.load")(Retrieval.loadBm25Index(spark, s"$dir/bm25"))
        val q = queries(panel)
        fuse(Retrieval.bm25TopKIndexed(index, q, k = K, idCol = "ck"), spark.read.parquet(s"$dir/emb"), q)
      }
      ph("plan")(df.queryExecution.executedPlan)
      Outcome(Some(ph("exec")(Consume.digest(df))), Some(df))
    }
  }
}

object Workloads {
  /** Catalog entries each workload times. A run checks every op cold and
    * then times warm passes, all inside the few tens of seconds a run is
    * given, so each workload keeps a slice of what it stands for.
    *
    * silver-sql: the reference's silver transforms and SQL surface, the
    * `q<nn>[x]` entries without the graph families q50* and q53*; every
    * ninth of them in name order (6 of 54).
    *
    * pipelines: the persist-heavy iterative compositions: cached batch
    * curation (Curation, with its near-dup connected components) and
    * PageRank. qc01s_curation_stored, qc02_curation_delta and
    * qt18_dedup_clusters are left out: they would add about 18 s, 25 s
    * (with qc02's state build) and 8 s to every run.
    *
    * rag: no catalog entry; see [[Rag]].
    */
  def entries(workload: String): Seq[String] = workload match {
    case "silver-sql" =>
      val all = SparkEntry.queries.keys.toSeq.sorted
        .filter(_.matches("q[0-9][0-9][a-z]?_.*")).filterNot(_.matches("q5[03].*"))
      all.indices.filter(_ % 9 == 0).map(all)
    case "pipelines" => Seq("qc01_curation", "q50_pagerank")
    case "rag" => Seq.empty
    case other => sys.error(s"unknown workload $other")
  }

  /** RAG serves per index rebuild in a pass, each with its own seeded panel. */
  val ServesPerBuild = 2
  val PanelSize = 5
}
