package graft

import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import graft.sources.Tables
import graft.pipeline.Schemas
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("pipeCsv reads gzipped pipe-delimited all-varchar with audit columns") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("od_20220305.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(f))
    out.write(("fecha|periodo|origen|destino|distancia|actividad_origen|actividad_destino|" +
      "residencia|renta|edad|sexo|viajes|viajes_km|estudio_destino_posible|estudio_origen_posible\n" +
      "20220305|7|A1|B1|0.5-2|casa|trabajo_estudio|28|10-15|NA|NA|12.5|20.1|si|no\n" +
      "20220305|8|A1|B2|2-10|casa|frecuente|28|<10|NA|NA|3.0|9.9|no|si\n").getBytes("UTF-8"))
    out.close()

    val df = Tables.pipeCsv(spark, Seq(f.toString), Some(Schemas.mitmaOd))
    assert(df.count() === 2)
    // all-varchar bronze: every declared column is string (utils.py:328)
    val dataCols = df.columns.filterNot(Seq("loaded_at", "source_file").contains)
    assert(dataCols.forall(c => df.schema(c).dataType.typeName === "string"))
    // audit columns present and populated (utils.py:322-324)
    val r = df.head()
    assert(r.getAs[String]("source_file").contains("od_20220305.csv.gz"))
    assert(r.getAs[java.sql.Timestamp]("loaded_at") != null)
    assert(df.filter($"periodo" === "7").head().getAs[String]("viajes") === "12.5")
  }

  test("pipeCsv infers header names when no schema given") {
    val dir = Files.createTempDirectory("graft_csv2")
    val f = dir.resolve("rel.csv")
    Files.writeString(f, "seccion_ine|municipio_ine\nS1|46250\n")
    val df = Tables.pipeCsv(spark, Seq(f.toString))
    assert(df.select("municipio_ine").as[String].collect().toSeq === Seq("46250"))
  }

  test("overwritePartitions rewrites only the shipped partitions (incremental daily load)") {
    val dir = Files.createTempDirectory("graft_dyn").toString
    val day1 = Seq(("2022-03-05", "A", 1.0), ("2022-03-05", "B", 2.0),
      ("2022-03-06", "A", 3.0)).toDF("day", "zone", "v")
    Tables.overwrite(day1, dir, partitionBy = Seq("day"))
    // day-2 correction re-ships ONLY 2022-03-06, with different content
    val day2fix = Seq(("2022-03-06", "A", 30.0), ("2022-03-06", "C", 31.0))
      .toDF("day", "zone", "v")
    Tables.overwritePartitions(day2fix, dir, partitionBy = Seq("day"))
    val got = spark.read.parquet(dir).orderBy("day", "zone")
      .select("day", "zone", "v").as[(String, String, Double)].collect().toSeq
    assert(got === Seq(("2022-03-05", "A", 1.0), ("2022-03-05", "B", 2.0),
      ("2022-03-06", "A", 30.0), ("2022-03-06", "C", 31.0)))
    // idempotent: re-shipping the same partition is a no-op
    Tables.overwritePartitions(day2fix, dir, partitionBy = Seq("day"))
    assert(spark.read.parquet(dir).count() === 4)
  }

  test("fetchToTemp completes the URL→reader path (file:// URL, extension preserved)") {
    val dir = Files.createTempDirectory("graft_fetch")
    val f = dir.resolve("od_remote.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(f))
    out.write("fecha|origen\n20220305|A1\n".getBytes("UTF-8"))
    out.close()
    val fetched = Tables.fetchToTemp(Seq(f.toUri.toString))
    // extension survives so Spark's codec detection still decompresses
    assert(fetched.head.endsWith(".csv.gz"))
    val df = Tables.pipeCsv(spark, fetched)
    assert(df.select("origen").as[String].collect().toSeq === Seq("A1"))
  }

  test("jsonArray reads a top-level JSON array with nested Data structs") {
    val dir = Files.createTempDirectory("graft_json")
    val f = dir.resolve("ine.json")
    Files.writeString(f,
      """[{"COD": "X1", "Nombre": "València. Total.", "Data": [{"Fecha": 1672531200000, "Valor": 1.5}]},
        | {"COD": "X2", "Nombre": "Madrid. Total.", "Data": []}]""".stripMargin)
    val df = Tables.jsonArray(spark, Seq(f.toString))
    assert(df.count() === 2)
    assert(df.schema("Data").dataType.typeName === "array")
    val v = df.filter($"COD" === "X1")
      .selectExpr("Data[0].Valor").as[Double].head()
    assert(v === 1.5)
    assert(df.head().getAs[String]("source_url").nonEmpty)
  }

  test("jsonArray records the SOURCE URL (not the temp path) through the fetch seam") {
    val dir = Files.createTempDirectory("graft_json_url")
    val f = dir.resolve("api_response.json")
    Files.writeString(f, """[{"COD": "X1"}]""")
    val url = f.toUri.toString // stands in for the HTTP API URL
    val fetched = Tables.fetchToTempWithUrls(Seq(url))
    val df = Tables.jsonArray(spark, fetched.map(_._2),
      sourceUrls = fetched.map(_.swap).toMap)
    val recorded = df.select("source_url").as[String].head()
    assert(recorded === url, s"audit column must carry the reference's URL, got $recorded")
  }

  test("Tables.events adapts to BOTH fixture ts encodings (the r7 regression lock)") {
    // the driver has shipped events.ts as INT64 nanos AND as
    // TIMESTAMP(MICROS) across fixture regenerations; the loader must
    // yield identical (ts, ts_ns) for the same instant under either
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_events_enc")
    val usInstant = 1704067200123456L // 2024-01-01T00:00:00.123456Z
    // encoding A: long nanos column named ts (read via nanosAsLong=true the
    // way the old fixture was — here written as a plain long, same shape)
    spark.range(1).select(lit(1L).as("event_id"),
        lit(usInstant * 1000L).as("ts"), lit(7L).as("user_id"))
      .write.mode("overwrite").parquet(s"$dir/enc_a/events.parquet")
    // encoding B: true TimestampType micros
    spark.range(1).select(lit(1L).as("event_id"),
        timestamp_micros(lit(usInstant)).as("ts"), lit(7L).as("user_id"))
      .write.mode("overwrite").parquet(s"$dir/enc_b/events.parquet")
    val a = Tables.events(spark, s"$dir/enc_a")
      .select(unix_micros(col("ts")), col("ts_ns")).as[(Long, Long)].head()
    val b = Tables.events(spark, s"$dir/enc_b")
      .select(unix_micros(col("ts")), col("ts_ns")).as[(Long, Long)].head()
    assert(a === ((usInstant, usInstant * 1000L)))
    assert(b === a, s"encodings disagree: long-nanos $a vs timestamp $b")
  }

  /** Spark jobs started while `body` runs. The listener bus delivers events
    * asynchronously but in order, so a marker job run before and after
    * `body` brackets exactly its jobs, whatever was still queued.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-before")
      body
      marker("jobs-after")
      val seen = Iterator.continually(groups.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(g => g != null && g != "jobs-after").toVector
      assert(seen.contains("jobs-before"), s"marker jobs never reached the listener: $seen")
      seen.size - seen.indexOf("jobs-before") - 1
    } finally sc.removeSparkListener(listener)
  }

  test("a second Tables.table of an unchanged file starts no Spark job") {
    Tables.table(spark, sf, "region").queryExecution.analyzed // infers once
    val first = Tables.table(spark, sf, "region")
    assert(jobsDuring(Tables.table(spark, sf, "region").queryExecution.analyzed) === 0)
    val again = Tables.table(spark, sf, "region")
    // a fresh relation per call: the memo holds a schema, not a plan
    assert(first.schema === again.schema)
    assert(first.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(again.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    assert(again.collect().toSet === first.collect().toSet)
  }

  test("Tables.table follows a rewrite of the file at the same path") {
    val dir = Files.createTempDirectory("graft_rewrite").toString
    spark.range(3).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L))
    spark.range(2).selectExpr("CAST(id AS STRING) AS b", "id * 10 AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.table(spark, dir, "t")
    assert(back.columns.toSeq === Seq("b", "c"))
    assert(back.as[(String, Long)].collect().sorted.toSeq === Seq(("0", 0L), ("1", 10L)))
  }

  test("Tables.table follows the session's parquet reader conf (inferTimestampNTZ)") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try {
      for (ntz <- Seq(true, false, true)) {
        spark.conf.set(key, ntz.toString)
        assert(Tables.table(spark, sf, "events").schema("ts").dataType ===
          (if (ntz) TimestampNTZType else TimestampType), s"$key=$ntz")
      }
    } finally spark.conf.unset(key)
  }
}
