package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** The one store behind every persisted index, state and edge store (BM25,
  * corpus state, the near-dup indexes, IVF/PQ, the trade-edge store) — the
  * reference's lake-catalog rule (parquet parts plus catalog metadata,
  * committed through one path; bronze/utils.py:119-155) per artifact.
  *
  * An artifact owns its directory: one sub-directory per named part plus
  * a small manifest, written LAST. The manifest is the commit: a directory
  * without one is absent, so an interrupted save never reads back as the
  * old generation or a mix, and a manifest that is unreadable or of
  * another kind fails loudly. It records the kind, every part's schema and
  * bucket spec, and scalar params, so a load starts no Spark job (no
  * schema inference) and a fresh session re-registers bucketed parts as
  * catalog tables — bucket metadata lives in the catalog, not the files —
  * from the record the writer produced. No temp-dir rename: bucketed
  * catalog tables pin their LOCATION.
  *
  * A bucketed part has as many buckets as the WRITING session's
  * `spark.sql.shuffle.partitions`, and the manifest records that count, so
  * a reader re-registers the layout the writer chose. A consumer's one
  * shuffle then lands on the partitioning the store has, and a small
  * session pays no per-bucket task overhead for a count sized to a large
  * one. The count is fixed at write time. A reader with fewer partitions
  * than the store has buckets still reads it bucketed (Spark keeps the
  * store's partitioning and shuffles the other side to match). A reader
  * with MORE partitions that joins the store against a side already
  * hash-partitioned at its own count re-shuffles the store side to that
  * count; where that read recurs, rebuild the store in the reading
  * configuration.
  */
object Artifacts {

  /** One named part, stored under `dir/name`. `bucketKey = Some(k)` writes
    * it as a catalog table bucketed and sorted on `k`: a consumer joining
    * or grouping on `k` reads it co-partitioned, and the shuffle that grows
    * with the STORE vanishes (PlanSpec gates it per store).
    */
  final case class Part(name: String, df: DataFrame, bucketKey: Option[String] = None)

  /** A committed artifact: a lazy scan per part, plus its scalar params. */
  final case class Loaded(parts: Map[String, DataFrame], params: Map[String, String]) {
    def apply(part: String): DataFrame = parts(part)
    def param(key: String): String = params(key)
  }

  private[graft] val ManifestName = "_graft_manifest"
  private val Magic = "graft-artifact 1"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Catalog table name of one bucketed part. Sanitizing the dir to
    * `[a-z0-9_]` alone would collide distinct paths (`/a/b` vs `/a_b`), and
    * the tableExists short-circuit in [load] would then silently serve the
    * OTHER store's data — so the raw (pre-sanitize) dir's hash is appended.
    */
  private[graft] def tableName(dir: String, part: String): String = {
    val rawHash = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    (s"graft_${part}_$dir".replaceAll("[^a-zA-Z0-9]", "_") + "_" + rawHash).toLowerCase
  }

  /** Replace whatever `dir` holds with a new generation of `kind`: delete
    * the manifest, clear the directory and drop its catalog tables, write
    * every part, then commit the manifest. Manifest lines are tab-separated
    * records closed by `end`, so a truncated one reads as unreadable.
    */
  def write(dir: String, kind: String, parts: Seq[Part],
            params: Map[String, String] = Map.empty): Unit = {
    val spark = parts.head.df.sparkSession
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    fs.delete(new Path(root, ManifestName), false)
    // any sub-directory may be a bucketed part registered in this session
    val previous =
      if (fs.exists(root)) fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq
      else Nil
    (previous ++ parts.map(_.name)).distinct
      .foreach(p => spark.sql(s"DROP TABLE IF EXISTS ${tableName(dir, p)}"))
    fs.delete(root, true)
    val buckets = spark.sessionState.conf.numShufflePartitions
    parts.foreach { p =>
      p.bucketKey match {
        case Some(key) =>
          // repartition on the bucket column first: writer hash ==
          // bucketing hash, so each task holds exactly one bucket and the
          // part is `buckets` files, not fragments per task×bucket
          p.df.repartition(buckets, col(key)).write
            .bucketBy(buckets, key).sortBy(key)
            .option("path", s"$dir/${p.name}").saveAsTable(tableName(dir, p.name))
        case None => p.df.write.parquet(s"$dir/${p.name}")
      }
    }
    val lines = Seq(Magic, s"kind\t$kind") ++
      params.toSeq.sorted.map { case (k, v) => s"param\t$k\t$v" } ++
      parts.map(p => s"part\t${p.name}\t${p.bucketKey.getOrElse("")}\t" +
        s"${if (p.bucketKey.isEmpty) 0 else buckets}\t${p.df.schema.json}") :+ "end"
    val out = fs.create(new Path(root, ManifestName), true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
  }

  /** Whether `dir` holds a committed artifact (of any kind). */
  def exists(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new Path(dir, ManifestName))

  /** Open the committed `kind` artifact at `dir`. Starts no Spark job:
    * plain parts scan with the recorded schema, bucketed parts come back
    * as their catalog tables (registered from the manifest if this session
    * lacks them). Throws FileNotFoundException when nothing is committed.
    */
  def load(spark: SparkSession, dir: String, kind: String): Loaded = {
    val path = new Path(dir, ManifestName)
    val fs = fsOf(spark, dir)
    if (!fs.exists(path))
      throw new java.io.FileNotFoundException(s"no committed $kind artifact at $dir " +
        "(never saved, or its last save was interrupted)")
    val (found, params, parts) = try {
      val in = fs.open(path)
      val lines = try new String(in.readAllBytes(), UTF_8).split("\n").toList finally in.close()
      require(lines.headOption.contains(Magic) && lines.lastOption.contains("end"))
      val recs = lines.tail.init.map(_.split("\t", -1).toList)
      val kinds = recs.collect { case List("kind", k) => k }
      val params = recs.collect { case List("param", k, v) => k -> v }
      val parts = recs.collect { case List("part", name, key, n, json) =>
        (name, key, n.toInt, DataType.fromJson(json).asInstanceOf[StructType])
      }
      require(kinds.size == 1 && kinds.size + params.size + parts.size == recs.size)
      (kinds.head, params.toMap, parts)
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(s"unreadable artifact manifest $path", e)
    }
    if (found != kind)
      throw new IllegalStateException(s"artifact at $dir is a $found, not a $kind")
    Loaded(parts.map { case (name, key, n, schema) =>
      val loc = s"$dir/$name"
      val tbl = tableName(dir, name)
      if (key.nonEmpty && !spark.catalog.tableExists(tbl)) {
        val cols = schema.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        spark.sql(s"CREATE TABLE $tbl ($cols) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS LOCATION '$loc'")
      }
      name -> (if (key.isEmpty) spark.read.schema(schema).parquet(loc) else spark.table(tbl))
    }.toMap, params)
  }
}
