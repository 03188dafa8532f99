package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One benchmark run inside one JVM: set up, check, then time closed-loop
  * passes over a workload's ops with one client thread, and write a JSON
  * record of every op for `perfbench/run.py` to turn into metrics.
  *
  *   graftbench.Main --workload <silver-sql|pipelines|rag> --seed <n>
  *     --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
  *
  * Set-up runs every op once in a fixed order (the check pass): it warms
  * the JVM, pays one-time builds, takes each op's expected digest and
  * writes every frame that has an oracle for the DuckDB compare. Timed
  * passes then run the ops in a seeded order until `--seconds` have passed;
  * a timed op counts as failed when it throws or its digest differs from
  * the check pass. With `--trace 1`, passes alternate between untraced and
  * traced, and the record carries per-layer counters of the traced ones.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val data = new File(need("data")).getAbsolutePath
    val work = new File(need("work")).getAbsolutePath
    val out = need("out")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("session_ms") = System.currentTimeMillis()
    rec("workload") = workload
    rec("seed") = seed
    rec("cores") = cores
    val rng = new Random(seed)
    val expected = mutable.LinkedHashMap.empty[String, Digest]
    val oracles = mutable.LinkedHashMap.empty[String, String]
    val setupOps = mutable.ArrayBuffer.empty[Map[String, Any]]
    var seq = 0
    def nextSeq(): Int = { seq += 1; seq }

    def isolate(): Unit = {
      val persisted = spark.sparkContext.getPersistentRDDs.values
      persisted.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      // a persist-heavy op leaves garbage whose collection would otherwise
      // land inside the next op's timer
      if (persisted.nonEmpty) System.gc()
    }

    /** Check-pass run of one op: expected digest, plus the frame for the oracle. */
    def check(op: Op): Unit = {
      isolate()
      val ph = new Phases(spark, nextSeq())
      val t0 = System.nanoTime()
      val outcome = op.run(ph)
      val t1 = System.nanoTime()
      expected(op.name) = outcome.digest.getOrElse(op.verify())
      for (sql <- op.oracle; df <- outcome.frame) {
        df.write.mode("overwrite").parquet(s"$work/check/${op.name}")
        oracles(op.name) = sql
      }
      setupOps += Map("name" -> op.name, "s" -> (t1 - t0) / 1e9,
        "check_s" -> (System.nanoTime() - t1) / 1e9)
    }

    // --- set-up: the workload's ops and their check pass, one client thread
    // (a check pass on several threads left the timed pass slower and
    // noisier: 9.7 s +-14% against 8.2 s +-5% on silver-sql) ---
    val entryOps = Workloads.entries(workload).map(n => new EntryOp(n, spark, data))
    entryOps.foreach(check)
    val ragOps = if (workload != "rag") Seq.empty else {
      val rag = new Rag(spark, data, s"$work/rag")
      val docIds = graft.sources.Tables.table(spark, data, "documents")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toVector
      val panels = Seq.tabulate(Workloads.ServesPerBuild) { i =>
        s"rag_serve_$i" -> rng.shuffle(docIds).take(Workloads.PanelSize).sorted
      }
      rec("rag_panels") = panels.map { case (n, p) => n -> p.mkString(" ") }.toMap
      check(rag.build)
      // the doc_id < 5 panel is qr02's; its answer must match qr02's oracle
      check(rag.serve("qr02_retrieval_serve", 0L until 5L,
        graft.SparkEntry.oracleSql.get("qr02_retrieval_serve")))
      // every seeded panel must match the chain run in-query (qr01's shape)
      val inQuery = rag.inQuery(panels.flatMap(_._2).distinct).localCheckpoint()
      panels.foreach { case (name, panel) =>
        expected(name) = Consume.digest(inQuery.filter(col("query_id").isin(panel: _*)))
      }
      rag.build +: panels.map { case (name, panel) => rag.serve(name, panel) }
    }
    val ops = entryOps ++ ragOps
    isolate()
    System.gc()
    rec("jit_wait_s") = jitQuiesce()

    // --- timed passes ---
    val trace = if (traced) Some(new Trace(spark)) else None
    val opRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerSums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failed = 0
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcSeconds = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1e3
    // CPU time of the JVM's Java threads (Spark's task threads and the client
    // thread; JIT and GC threads are not Java threads): unlike wall time, it
    // does not grow while the hypervisor lends the cores to other guests
    val threadBean = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def threadCpu(): Map[Long, Long] = {
      val ids = threadBean.getAllThreadIds
      ids.zip(threadBean.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
    }
    def cpuSince(before: Map[Long, Long]): Double =
      threadCpu().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    def tracedCount = passRecs.count(_("traced") == true)
    // whole passes only: another one starts while the last pass's length
    // still fits in the time left. Traced, passes alternate untraced,
    // traced, untraced, so that later passes' extra warmth does not count
    // as negative tracing overhead.
    def lastPass = passRecs.lastOption.map(_("s").asInstanceOf[Double]).getOrElse(0.0)
    while (pass == 0 || elapsed + lastPass <= seconds || (traced && pass < 3)) {
      val tracing = trace.isDefined && pass % 2 == 1
      if (tracing) { trace.get.attach(); trace.get.active = true }
      val order = new Random(seed * 1000003L + pass).shuffle(ops)
      var passSeconds = 0.0
      var passCpu = 0.0
      var passGc = 0.0
      val opWindows = mutable.ArrayBuffer.empty[(Long, Long)]
      val passPhases = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      order.foreach { op =>
        isolate()
        val ph = new Phases(spark, nextSeq())
        val g0 = gcSeconds
        val c0 = threadCpu()
        val w0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val result = scala.util.Try(op.run(ph))
        val s = (System.nanoTime() - s0) / 1e9
        val w1 = System.currentTimeMillis()
        val cpu = cpuSince(c0)
        passCpu += cpu
        val opGc = gcSeconds - g0
        passGc += opGc
        val digest = result.flatMap(o => scala.util.Try(o.digest.getOrElse(op.verify())))
        val ok = digest.toOption.contains(expected(op.name))
        if (!ok) failed += 1
        passSeconds += s
        opWindows += ((w0, w1))
        ph.seconds.foreach { case (k, v) => passPhases(k) += v }
        opRecs += Map("pass" -> pass, "name" -> op.name, "traced" -> tracing, "s" -> s,
          "phases" -> ph.seconds.toMap, "ok" -> ok, "gc_s" -> opGc, "cpu_s" -> cpu,
          "rows" -> digest.toOption.map(_.rows).getOrElse(-1L),
          "error" -> digest.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse(""))
        if (tracing) {
          spans += Map("kind" -> "op", "op" -> ph.seq, "name" -> op.name, "start" -> w0, "end" -> w1)
          ph.spans.foreach { case (n, a, b) =>
            spans += Map("kind" -> "span", "op" -> ph.seq, "name" -> n, "start" -> a, "end" -> b)
          }
        }
      }
      passRecs += Map("pass" -> pass, "traced" -> tracing, "s" -> passSeconds, "cpu_s" -> passCpu)
      trace.filter(_ => tracing).foreach { t =>
        t.quiesce()
        t.active = false
        t.detach()
        layerSums("queries.build_s") += passPhases("build")
        layerSums("planner.plan_s") += passPhases("plan")
        layerSums("operators.Retrieval.save_s") += passPhases("operators.Retrieval.save")
        layerSums("operators.Retrieval.load_s") += passPhases("operators.Retrieval.load")
        layerSums("spark.idle_s") += opWindows.map { case (a, b) => t.idleSeconds(a, b) }.sum
        layerSums("jvm.gc_s") += passGc
        layerSums("jvm.cpu_s") += passCpu
        layerSums("spark.exec_s") += passPhases("exec")
        layerSums("trace.pass_s") += passSeconds
      }
      pass += 1
    }
    val timedSeconds = elapsed

    // --- per-layer counters of the traced passes, per pass ---
    trace.foreach { t =>
      val n = tracedCount.toDouble
      val c = t.counters
      val layers = mutable.LinkedHashMap.empty[String, Double]
      layerSums.foreach { case (k, v) => layers(k) = v / n }
      Seq("pipeline.Curation", "operators.Dedup", "operators.PageRank", "operators.Similarity",
        "operators.Retrieval", "sources", "queries").foreach { m =>
        layers(s"$m.jobs") = c(s"$m.jobs") / n
        layers(s"$m.job_s") = c(s"$m.job_s") / n
      }
      layers("sources.read_jobs") = c("sources.jobs") / n
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s", "spark.sched_delay_s",
        "spark.task_gc_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
        "spark.output_mb", "spark.failed_tasks", "spark.retried_stages", "plan.exchanges",
        "plan.reused_exchanges", "plan.bhj", "plan.smj").foreach(k => layers(k) = c(k) / n)
      layers("storage.cached_mb_peak") = c("storage.cached_mb_peak")
      layers("spark.core_util") = c("spark.task_busy_s") / (cores * layerSums("trace.pass_s"))
      val passesBy = passRecs.groupBy(_("traced") == true).view
        .mapValues(ps => ps.map(_("s").asInstanceOf[Double]).sum / ps.size).toMap
      layers("trace.overhead_s") = passesBy(true) - passesBy(false)
      rec("layers") = layers
      t.jobRecords.foreach { j =>
        spans += Map("kind" -> "job", "job" -> j.id, "group" -> j.group, "module" -> j.module,
          "start" -> j.start, "end" -> j.end)
      }
      t.stageRecords.foreach { s =>
        spans += Map("kind" -> "stage", "stage" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
          "name" -> s.name, "start" -> s.start, "end" -> s.end, "tasks" -> s.tasks)
      }
      Files.write(Paths.get(s"$work/trace.jsonl"),
        spans.map(Json.render).asJava, StandardCharsets.UTF_8)
    }

    rec("first_op_ms") = firstOpMs
    rec("jvm_start_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
    rec("timed_s") = timedSeconds
    rec("passes") = passRecs
    rec("ops") = opRecs
    rec("failed") = failed
    rec("expected") = expected.map { case (k, d) => k -> Map("rows" -> d.rows, "digest" -> d.hex) }
    rec("oracles") = oracles
    rec("setup_ops") = setupOps
    rec("sentinel_s") = sentinel()
    rec("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    rec("jvm_args") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    rec("peak_rss_mb") = vmHwmMb()
    Files.write(Paths.get(out), Json.render(rec).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Waits, at most 5 s, until the JIT has compiled nothing for 300 ms, so
    * compilations the check pass queued do not run inside the timed passes.
    */
  def jitQuiesce(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() - quietSince < 300000000L && System.nanoTime() - t0 < 5000000000L) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Median of three timings of a fixed pure-CPU loop: moves only with
    * machine contention or clock speed, never with graft's code.
    */
  def sentinel(): Double = {
    def once(): Double = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < (1 << 25)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("sentinel")
      (System.nanoTime() - t0) / 1e9
    }
    Seq(once(), once(), once()).sorted.apply(1)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
