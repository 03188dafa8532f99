package graft

import org.apache.spark.sql.SparkSession

/** Singleton-style SparkSession factory (≙ reference's
  * DuckLakeConnectionManager, /root/reference/airflow/dags/bronze/utils.py:23-56).
  *
  * Tuned for the driver's local[32] single-JVM harness but with settings that
  * transfer to a real cluster: AQE on (runtime re-planning, skew-join
  * handling), shuffle partitions sized to cores (local) — on a cluster AQE
  * coalesces post-shuffle partitions anyway.
  *
  * `spark.sql.codegen.cache.maxEntries` is a static conf: Spark reads it
  * once, when the JVM-wide generated-class cache is first built, so it
  * takes effect only when this builder creates the JVM's first session. A
  * caller embedding graft in an existing SparkContext must set it on their
  * own SparkConf (`CodegenCacheEntries`).
  */
object GraftSession {
  /** Generated-class cache size. One pipelines pass (qc01 + q50) needs
    * about 256 distinct classes: more than Spark's default 100, and the
    * passes cycle through them in the same order, so the LRU missed on
    * every class and each warm pass recompiled about 230 of them. 1024 is
    * four times that working set.
    */
  val CodegenCacheEntries: Int = 1024

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              // non-numeric env (e.g. SPARK_GRAFT_CPUS='*' for local[*]) → default 32
              shufflePartitions: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(32)): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false") // reference semantics: bad cast → NULL (SURVEY §2.8 F4)
      // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's reader
      // rejects; read as long nanos and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Plan strings nest every InMemoryRelation's cached subtree per
      // REFERENCE — a persist-at-every-arrow pipeline with multi-consumer
      // stages prints k^depth subtree copies, and the default unbounded
      // length OOMs the driver on an 8-stage chain (observed: PlanSpec
      // heap death in toString). 8 MB keeps any plan a human (or a gate)
      // reads intact and bounds the pathological case.
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** The bench's session: `local[$SPARK_GRAFT_CPUS]` (default 4) with one
    * shuffle partition per core. `graft.Bench` times under it, and
    * `graft.Probe` takes its job counts and plans from it, so plan evidence
    * describes the configuration the bench measures.
    */
  def benchBuilder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    builder(s"local[$cpus]", cpus.toInt)
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
