package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources layer (SURVEY §2.1).
  *
  * The reference ingests everything schema-on-read (all VARCHAR) and appends
  * audit columns (`loaded_at`, `source_file`) —
  * /root/reference/airflow/dags/bronze/utils.py:319-331. Here:
  *   - parquet fixtures load typed (driver testdata),
  *   - CSV/JSON bronze readers reproduce the all-varchar + audit-column
  *     convention (S1/S2),
  * both as plain declarative reads so Catalyst gets pushdown + pruning.
  */
object Tables {

  /** Load one driver fixture table, e.g. table(spark, sfDir, "lineitem"). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Read the parquet file or directory at `path`, inferring its schema
    * once per file version — the reference's catalog keeps each table's
    * schema instead of deriving it on every query, and [Artifacts.load]
    * reads its parts the same way. A bare `spark.read.parquet` infers on
    * every call, and inference runs a Spark job over the footers.
    *
    * The memo holds, per qualified path, the inferred schema and the
    * signature it was inferred under: the leaf files' count, total length
    * and latest modification time, plus every set SQL conf whose key
    * contains `parquet` and `spark.sql.caseSensitive`. While the signature
    * matches, the read is `spark.read.schema(memo).parquet(path)`. A
    * rewrite (it changes a length or a modification time) or a change of a
    * reader conf (e.g. `spark.sql.parquet.inferTimestampNTZ.enabled`)
    * infers again and replaces the entry. Listings, relations and data are
    * never cached: every call lists the files and returns a fresh relation
    * with fresh expression ids.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val signed = try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val leaves = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toVector
      val conf = spark.sessionState.conf
      val readerConf = conf.getAllConfs.filter(_._1.contains("parquet")) +
        ("spark.sql.caseSensitive" -> conf.caseSensitiveAnalysis.toString)
      Some(fs.makeQualified(p).toString -> SchemaSignature(leaves.size,
        leaves.map(_.getLen).sum, leaves.map(_.getModificationTime).maxOption.getOrElse(0L),
        readerConf))
    } catch { case _: java.io.IOException => None } // Spark's read reports it
    signed.flatMap { case (key, sig) => Option(schemas.get(key)).filter(_._1 == sig) } match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        signed.foreach { case (key, sig) => schemas.put(key, (sig, df.schema)) }
        df
    }
  }
  private final case class SchemaSignature(files: Int, bytes: Long, lastModified: Long,
                                           readerConf: Map[String, String])
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (SchemaSignature, StructType)]()

  /** Register a temp directory for recursive deletion at JVM exit — the
    * cleanup half of the build-once/serve-many parquet memos (trade-edge
    * store, qc02 corpus state): File.deleteOnExit is non-recursive, and a
    * bench/test JVM would otherwise leave one store copy per process.
    */
  def deleteOnExit(dir: String): Unit = exitDirs.add(dir)
  private val exitDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    exitDirs.forEach { d =>
      try {
        java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () } })
      } catch { case _: Throwable => () }
    }))

  /** `events` normalized to two columns regardless of the fixture's physical
    * encoding of `ts` — the driver has shipped it both as INT64
    * TIMESTAMP(NANOS) (read as long via
    * spark.sql.legacy.parquet.nanosAsLong=true) and as TIMESTAMP(MICROS)
    * (read as TimestampType/TimestampNTZType). Consumers always get:
    *   - `ts`    microsecond TimestampType (session TZ is UTC everywhere),
    *   - `ts_ns` epoch-nanos LongType for sub-µs ordering.
    * Schema-on-read adaptivity mirrors the reference, which parses time
    * from whatever the source carries (silver/mitma/mitma_od.py:41) rather
    * than assuming a physical encoding.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          // integer `div`, not `/`: ns epochs (~1.7e18) overflow double precision
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TimestampType or TimestampNTZType, already µs precision
        // NTZ→TZ cast is value-preserving under the UTC session timezone
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }

  /** Register every fixture table of a scale-factor dir as a temp view, so
    * raw `spark.sql` works against the same names the DuckDB oracle uses
    * (SURVEY §3.3 — the reference's ad-hoc SQL surface).
    */
  val fixtureTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def registerAll(spark: SparkSession, sfDir: String): Unit =
    fixtureTables.foreach { t =>
      table(spark, sfDir, t).createOrReplaceTempView(t)
    }

  /** Network→reader seam completing S1/S2: the reference streams HTTP
    * CSV/JSON straight into the engine (bronze/utils.py:325-330 for CSVs,
    * :398 for the INE JSON API); Spark readers take paths, so this fetches
    * each URL to a local temp file and returns the paths to feed
    * `pipeCsv`/`jsonArray`. The file name's extension is preserved —
    * `.csv.gz` keeps transparent decompression. Driver-side by design: at
    * cluster scale a fetch belongs in an ingestion step writing to shared
    * storage, never on executors mid-query. Any URL scheme the JDK opens
    * works (tested with file:// — the harness has no network egress).
    */
  def fetchToTemp(urls: Seq[String]): Seq[String] = urls.map { u =>
    // extension from the URI PATH — query strings/fragments must not leak
    // into the temp-file suffix or codec detection breaks (.csv.gz?token=x)
    val path = Option(new java.net.URI(u).getPath).getOrElse("")
    val name = path.substring(path.lastIndexOf('/') + 1)
    val suffix = if (name.contains('.')) name.substring(name.indexOf('.')) else ".dat"
    val tmp = java.nio.file.Files.createTempFile("graft_fetch_", suffix)
    tmp.toFile.deleteOnExit() // a long-lived driver must not leak a file per fetch
    val in = new java.net.URI(u).toURL.openStream()
    try java.nio.file.Files.copy(in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.toString
  }

  /** [fetchToTemp] keeping the URL→file association, for readers whose
    * audit column must record the SOURCE URL (the reference writes the
    * literal API URL, bronze/utils.py:436), not the transient local path.
    */
  def fetchToTempWithUrls(urls: Seq[String]): Seq[(String, String)] =
    urls.zip(fetchToTemp(urls))

  /** S1: pipe-delimited (optionally gzipped) CSV, all columns as string,
    * with audit columns — matches
    * /root/reference/airflow/dags/bronze/utils.py:325-330 and the explicit
    * delim at docs/dag_bronze_mitma.py:134-139.
    * `.csv.gz` decompresses transparently; `input_file_name()` plays the
    * role of DuckDB's `filename=true`.
    */
  def pipeCsv(spark: SparkSession, paths: Seq[String],
              schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("sep", "|")
      .option("header", "true")
      .option("inferSchema", "false") // all-varchar bronze (utils.py:328)
    val base = schema.map(r.schema).getOrElse(r).csv(paths: _*)
    withAudit(base.withColumn("source_file", input_file_name()))
  }

  /** S2: JSON array-of-objects (INE API shape, bronze/utils.py:392-400).
    * Spark needs multiLine for a top-level JSON array in one file.
    * `sourceUrls` (path-as-fetched → original URL, i.e.
    * [fetchToTempWithUrls] inverted) makes the `source_url` audit column
    * record the URL the reference stores ('{url}' AS source_url,
    * bronze/utils.py:436) instead of a transient temp path; files with no
    * mapping fall back to their file name.
    */
  def jsonArray(spark: SparkSession, paths: Seq[String],
                sourceUrls: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read.option("multiLine", "true").json(paths: _*)
    val url =
      if (sourceUrls.isEmpty) input_file_name()
      else {
        // key by basename: input_file_name() returns a file: URI whose
        // prefix form varies, the temp names are unique by construction
        val byName = sourceUrls.map { case (p, u) =>
          p.substring(p.lastIndexOf('/') + 1) -> u
        }
        coalesce(
          element_at(typedLit(byName), regexp_extract(input_file_name(), "[^/]+$", 0)),
          input_file_name())
      }
    withAudit(base.withColumn("source_url", url))
  }

  /** Audit column convention (bronze/utils.py:322-324). */
  def withAudit(df: DataFrame): DataFrame =
    df.withColumn("loaded_at", current_timestamp())

  /** S8 sink: full-rebuild materialization (CREATE OR REPLACE TABLE ... AS).
    * Partitioning columns are the caller's scale knob — e.g. silver_od by
    * zone_level/date at 100 TB.
    */
  def overwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Incremental sink: overwrite ONLY the partitions present in `df`,
    * leaving the rest of the table untouched (dynamic partition overwrite).
    * This is the 100 TB replacement for the reference's full
    * `CREATE OR REPLACE TABLE` re-runs: a daily re-load rewrites that day's
    * partitions, not the whole history — and stays idempotent like the
    * MERGE loads (same day re-shipped → same partition content).
    */
  def overwritePartitions(df: DataFrame, path: String, partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "dynamic overwrite needs partition columns")
    // per-WRITER option, not the session conf: mutating the global
    // partitionOverwriteMode races any concurrent write in the session
    // (a full rebuild mid-flight would silently run dynamic, or this
    // write static — deleting every partition not in the increment)
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(path)
  }

  /** Bucketed sink: persist `df` as a managed table hash-bucketed (and
    * sorted) BY the join/aggregation keys. This is the co-location
    * investment the 100 TB design notes point at (postings BY term,
    * corpus state BY id, fact tables BY their FK): two tables bucketed
    * the same way equi-join with NO shuffle on either side — the
    * SortMergeJoin reads bucket i against bucket i directly
    * (PipelineSpec gates the Exchange-free plan). Parquet + metastore
    * bucketing (Spark's native hash partitioning contract survives
    * restarts; a plain path write drops bucket metadata).
    */
  def writeBucketed(df: DataFrame, table: String, bucketBy: Seq[String],
                    nBuckets: Int): Unit = {
    require(bucketBy.nonEmpty && nBuckets > 0, "bucket columns + positive count required")
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketBy.head, bucketBy.tail: _*)
      .sortBy(bucketBy.head, bucketBy.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }
}
