package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
object Bench {
  /** One entry's measurement: the min timed run's seconds, the relative
    * spread across timed runs, the min run's GC seconds, and the
    * generated classes compiled (count, seconds) over all timed runs —
    * the per-entry codegen layer (a warm entry should compile ~0).
    */
  private final case class Measured(min: Double, spread: Double, gc: Double,
                                    compiles: Long, compileS: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.benchBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // pay session/codegen/parquet-reader/join/window machinery warmup once,
    // outside any timing, on the tiny region/nation tables
    spark.range(1000).selectExpr("sum(id)").collect()
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    n.join(org.apache.spark.sql.functions.broadcast(r),
        n("n_regionkey") === r("r_regionkey"), "left")
      .groupBy("r_name").count()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("r_name")
          .orderBy("count")))
      .selectExpr("explode(split(r_name, ' ')) AS w").count()
    // min of 3 runs per query: single-run timings at this scale are
    // dominated by ±0.3-1 s Spark job-scheduling noise, and the minimum is
    // the standard estimator for the deterministic cost under noise.
    // Failed queries report -1 (and poison the total) so a regression can't
    // masquerade as a fast run.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // local-iteration filter (mirrors Verify); unset for the driver's run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Run isolation: queries that checkpoint/persist internally (composed
    // curation's stage frames, connected components' labels, IVF training
    // caches) leak storage blocks into the shared JVM; 92 queries × runs of
    // accumulated blocks = the GC/page-pressure ordering noise that swung
    // identical code ±3-4× between rounds. Called before EVERY run (warmup
    // and timed), not just between entries: an entry whose each run persists
    // fresh blocks (plans differ per run via checkpoint RDD ids) otherwise
    // accumulates ~4× its working set within its own timed window — r6
    // measured qc01/qc02 at 37/32 s in the full catalog vs 15.3/14.3 s
    // isolated, with the between-entries-only cleanup. The cleanup runs
    // outside the timed window, so it costs wall-clock, not measured time.
    def isolate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200)
    }
    // cumulative JVM GC milliseconds — the per-run delta distinguishes
    // plan cost from heap-pressure amplification (BENCH_r08's qc01 read
    // 91.9 s on the driver vs 32.6 s for identical code in a quiet
    // environment; the GC share is the witness an external reader needs)
    def gcMs(): Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var t = 0L
      while (it.hasNext) { val v = it.next().getCollectionTime; if (v > 0) t += v }
      t
    }
    // Contention sentinel: a fixed-work pure-CPU loop (xorshift64, 2^27
    // steps, zero allocation) whose wall time moves ONLY with machine
    // contention / CPU frequency — never with plan cost, data scale, or
    // heap state. Timed before, mid-catalog, and after the entries;
    // sentinel_ratio = max/min of the three. A contended driver machine
    // (the r8/r11 fingerprint: persist-heavy entries 2-3× with per-entry
    // medians flat) inflates the sentinel the same way it inflates the
    // entries, so the run self-reports its own validity — no judge re-run
    // needed to adjudicate. Median of 3 reps per point so one scheduler
    // hiccup can't fake a contended stamp.
    def sentinel(): Double = {
      def once(): Double = {
        var x = 0x9e3779b97f4a7c15L
        var i = 0
        val t0 = System.nanoTime()
        while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        val dt = (System.nanoTime() - t0) / 1e9
        if (x == 42L) System.err.println("sentinel") // defeat dead-code elim
        dt
      }
      val ts = Array(once(), once(), once()).sorted
      ts(1)
    }
    val sentinelStart = sentinel()
    var sentinelMid = -1.0
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // One entry's full measurement protocol (warmup + `runs` timed runs,
    // isolation before every run). Factored out so the contention requeue
    // below re-measures an entry under the IDENTICAL protocol.
    def measureEntry(name: String,
                     fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Measured = {
      // stop at the first failure: one -1 already poisons the query's
      // result, so re-running a known-failed (possibly slow-to-fail) query
      // runs-1 more times buys nothing
      isolate()
      val times = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      var failed = false
      var compiles = 0L
      var compileNs = 0L
      // one UNTIMED warmup run per entry: first-run-only cost (parquet
      // footer reads, codegen compilation for this entry's plan shapes)
      // otherwise lands inside the timed window and shows up as the
      // sub-second entries' spread (r5 spread_max 4.28 on q04). A failure
      // here is the same failure the timed runs would hit — record it.
      try fn(spark, sfDir).count() catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed (warmup): ${e.getMessage}"); failed = true
      }
      var i = 0
      while (i < runs && !failed) {
        isolate() // drop the previous run's persisted/checkpointed blocks
        // absorb any post-GC scheduler hiccup OUTSIDE the timed window —
        // without this a sub-second entry occasionally eats a multi-second
        // stall on its first job and reads as a 5× spread
        spark.range(1).count()
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cNs0 = CodeGenerator.compileTime
        val g0 = gcMs()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          times += (((System.nanoTime() - t0) / 1e9, (gcMs() - g0) / 1e3))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); failed = true
        }
        compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        compileNs += CodeGenerator.compileTime - cNs0
        i += 1
      }
      // (min, relative spread, gc-of-min-run): min is the deterministic-
      // cost estimator; (max-min)/min across the runs is the noise witness
      // — a large value says this entry's number is scheduling/GC noise,
      // not plan cost; the min run's GC seconds say how much of even the
      // best run was collector time (heap-pressure witness)
      if (failed) Measured(-1.0, -1.0, 0.0, compiles, compileNs / 1e9)
      else {
        val best = times.minBy(_._1)
        Measured(best._1,
          if (best._1 > 0) (times.map(_._1).max - best._1) / best._1 else 0.0,
          best._2, compiles, compileNs / 1e9)
      }
    }
    // qc01 stage-level cost attribution: the entry is ~18% of the catalog
    // total, so the file artifact records where inside the composed
    // pipeline the seconds go (Curation.lastStageSecs — set by every
    // persist/storage stages() run; snapshotted HERE, immediately after
    // qc01's measurement and before qc01s/qc02 overwrite it, so the map
    // is qc01's last timed run).
    var qc01Stages: Map[String, Double] = Map.empty
    def snapshotStages(name: String): Unit =
      if (name == "qc01_curation")
        qc01Stages = graft.pipeline.Curation.lastStageSecs.get()
    val firstPass = entries.zipWithIndex
      .map { case ((name, fn), entryIdx) =>
        if (entryIdx == entries.size / 2) sentinelMid = sentinel()
        val m = measureEntry(name, fn)
        snapshotStages(name)
        name -> m
      }.toMap
    val sentinelEnd = sentinel()
    val sents = Seq(sentinelStart, sentinelMid, sentinelEnd).filter(_ > 0)
    val sentinelRatio = if (sents.isEmpty) -1.0 else sents.max / sents.min
    // Contention auto-requeue: three rounds (r8, r9, r11) a contended
    // driver machine inflated exactly these persist-heavy entries 2-3×
    // and the headline needed an out-of-band quiet re-run to adjudicate.
    // When the catalog window's own witness says "contended"
    // (sentinel_ratio > 1.2), re-measure the persist-heavy list once more
    // under the identical protocol and keep the per-entry MIN — contention
    // only ever inflates, so min(first, requeued) is the better estimator
    // of deterministic cost whichever window was quieter. Both readings
    // are recorded (`contended` in target/bench.json) plus the requeue
    // window's own sentinel pair, so a reader can see whether the second
    // window was actually quiet. The sub-2-s entries stay flat under
    // contention (measured r8/r11) and are not requeued.
    // Entry name -> quiet-band seconds: each persist-heavy entry's MIN
    // from the last quiet adjudicated full-catalog window (r17 end-of-round
    // quiet run: local[32], sf0.1, runs=3, sentinel 1.06, requeue-window
    // sentinel 1.02 — raw JSON committed at plans/r17/bench_quiet_r17.json).
    // Bands are requeue TRIGGERS, not gates — a code change that genuinely
    // slows an entry just makes the requeue confirm the slower number
    // twice. Refresh the values whenever a quiet full-catalog run moves an
    // entry's min. NOTE (r17, recorded in OPTIMIZATION_r17.md): these
    // entries are BIMODAL across JVM instances on identical code
    // (interleaved quiet windows read qc02 at 12.5 and 17.6); a band trip
    // therefore triggers the requeue more often than real contention does,
    // which only costs a re-measurement, never a wrong number.
    val persistHeavy = Map(
      "qc01_curation" -> 9.2, "qc01s_curation_stored" -> 10.3,
      "qc02_curation_delta" -> 10.5,
      "q50_pagerank" -> 3.4, "q50p_pagerank_prod" -> 2.8,
      "q53_trustrank" -> 3.3, "q53p_trustrank_prod" -> 3.2,
      "q50s_pagerank_panel" -> 2.4, "q53s_trustrank_panel" -> 2.7,
      "qt26rs_semdedup_recall_panel" -> 1.9,
      "qt18_dedup_clusters" -> 2.3, "qr01_retrieval" -> 2.4)
    // The bands above are absolute seconds calibrated to ONE configuration
    // (sf0.1, local[32], runs=3). At any other fixture or core count every
    // heavy entry trips the >1.2× band even on a quiet machine, requeueing
    // the whole list each run and stamping the run "contended". So the
    // per-entry band trigger applies only on the calibrated configuration;
    // the sentinel trigger (pure machine witness, scale-free) still covers
    // uncalibrated runs.
    // normalized compare (trim + basename): a cosmetic variation in
    // SPARK_GRAFT_SF_DIR ("/root/testdata/sf0.1/", a symlinked prefix) or
    // a padded SPARK_GRAFT_CPUS must not silently disable the band trigger
    val bandsCalibrated =
      new java.io.File(sfDir.trim).getName == "sf0.1" &&
        cpus.trim == "32" && runs == 3
    if (!bandsCalibrated)
      System.err.println(s"[bench] per-entry quiet bands skipped: run config " +
        s"(sf=$sfDir cpus=$cpus runs=$runs) != calibration (sf0.1, 32, 3); " +
        "sentinel trigger still active")
    val fnByName = entries.toMap
    // A renamed persist-heavy entry silently dropping out of the requeue
    // would reintroduce the r8/r11 inflated-headline failure mode with no
    // warning — fail loudly on the full-catalog (driver) run, warn on a
    // deliberately-filtered local run.
    val missingHeavy = persistHeavy.keys.filterNot(fnByName.contains).toSeq.sorted
    if (missingHeavy.nonEmpty) {
      val msg = s"persistHeavy names missing from the catalog (renamed?): " +
        missingHeavy.mkString(", ")
      if (only.isEmpty) throw new IllegalStateException(s"[bench] $msg")
      else System.err.println(s"[bench] WARNING: $msg")
    }
    var requeueSentRatio = -1.0
    // Per-entry band trigger: the sentinel is a pure-CPU probe and misses
    // memory-bandwidth contention (r13 driver run: sentinel 1.16 — under
    // the 1.2 trigger — yet qc01 read +25% over its quiet band). An entry
    // exceeding its own quiet band by >20% is requeued even on a
    // sentinel-quiet run; min(first, requeued) still converges to the
    // quiet number whichever window was calmer.
    val bandExceeded = (if (bandsCalibrated) persistHeavy else Map.empty[String, Double])
      .filter { case (n, band) =>
        firstPass.get(n).exists(m => m.min >= 0 && m.min > band * 1.2)
      }.keys.toSeq.sorted
    // name -> (first-pass measurement, requeued measurement); empty on a
    // quiet run.
    val contendedPairs: Map[String, (Measured, Measured)] =
      if (sentinelRatio > 1.2 || bandExceeded.nonEmpty) {
        val targets =
          if (sentinelRatio > 1.2)
            persistHeavy.keys.toSeq.sorted.filter(n => firstPass.get(n).exists(_.min >= 0))
          else bandExceeded
        System.err.println(s"[bench] requeueing ${targets.size} persist-heavy " +
          s"entries (sentinel_ratio ${f"$sentinelRatio%.2f"}" +
          (if (bandExceeded.nonEmpty)
             s"; band exceeded >20%: ${bandExceeded.mkString(", ")}" else "") + ")")
        val s0 = sentinel()
        val second = targets.map { n =>
          val m = measureEntry(n, fnByName(n)); snapshotStages(n); n -> m
        }.toMap
        val s1 = sentinel()
        requeueSentRatio = math.max(s0, s1) / math.min(s0, s1)
        targets.map(n => n -> (firstPass(n), second(n))).toMap
      } else Map.empty
    val results = firstPass.map { case (n, first) =>
      contendedPairs.get(n) match {
        // adopt the requeued measurement WHOLESALE (min + its spread + its
        // gc) when its min is lower — mixing the first pass's witnesses
        // with the requeue's min would pair readings from different windows
        case Some((_, req)) if req.min >= 0 && req.min < first.min => n -> req
        case _ => n -> first
      }
    }
    // The driver captures only the last ~2000 bytes of stdout; a queries map
    // keyed by full names with nanosecond-precision doubles overflows that
    // window and the line never parses (round 2 shipped parsed:null). Key by
    // the short id prefix (q01/qt05c/qm02 — unique by catalog construction,
    // asserted below) and round to milliseconds: ~1 KB line, room to grow.
    def shortId(name: String): String = name.takeWhile(_ != '_')
    require(results.keySet.map(shortId).size == results.size,
      "short query ids collide; bench line would drop a query")
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, m) => "\"" + shortId(k) + "\":" + fmt(m.min) }
      .mkString("{", ",", "}")
    // Noise report, budgeted for the driver's ~2000-byte stdout window:
    // the WORST relative spreads (capped at 8 entries, 2 decimals) plus the
    // overall max — enough to tell a real regression (spread small, min
    // moved) from measurement noise (spread large) without doubling the
    // line. -1 (failed) entries are excluded; they're already flagged.
    val spreads = results.toSeq.filter(_._2.spread >= 0)
    val worst = spreads.sortBy(-_._2.spread).take(8)
      .map { case (k, m) => "\"" + shortId(k) + "\":" + f"${m.spread}%.2f" }
      .mkString("{", ",", "}")
    val spreadMax = if (spreads.isEmpty) 0.0 else spreads.map(_._2.spread).max
    // GC witness: seconds the collector took INSIDE each entry's best
    // timed run (top 6) + the sum over all entries. A healthy run carries
    // near-zero; a memory-pressured environment shows the amplification
    // here instead of leaving a 2-3× mystery in the totals.
    val gcs = results.toSeq.filter(_._2.min >= 0)
    val gcWorst = gcs.sortBy(-_._2.gc).take(6)
      .map { case (k, m) => "\"" + shortId(k) + "\":" + f"${m.gc}%.2f" }
      .mkString("{", ",", "}")
    val gcTotal = gcs.map(_._2.gc).sum
    // machine-state stamp at report time: available memory + 1-min load
    // (best-effort; absent on non-Linux)
    def readFile(p: String): String = {
      val src = scala.io.Source.fromFile(p)
      try src.mkString finally src.close()
    }
    def envStamp: String = try {
      val mem = readFile("/proc/meminfo").linesIterator
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toLong / 1048576.0 }.getOrElse(-1.0)
      val load = readFile("/proc/loadavg").split("\\s+")(0).toDouble
      f"""{"mem_avail_gb":$mem%.1f,"load1":$load%.2f}"""
    } catch { case _: Throwable => "{}" }
    // any failure invalidates the run: report total=-1 (a smaller-but-
    // incomplete sum would read as a FASTER run to a total-only gate)
    val failures = results.count(_._2.min < 0)
    val total = if (failures > 0) -1.0 else results.values.map(_.min).sum
    // Two artifacts, two budgets. The FILE is canonical and unbounded:
    // full 3-decimal timings plus the complete per-entry GC map (the
    // contention fingerprint rides the artifact, not just its top-6).
    // The STDOUT line must survive the driver's ~2000-byte tail capture
    // WITH sbt's trailing "[success] Total time..." line inside the same
    // window — BENCH_r09 shipped parsed:null because the full line plus
    // those trailers overflowed it and the head of the JSON fell off. So
    // stdout gets a compact twin (2-decimal, no per-entry maps — those
    // live in the file), printed as the VERY LAST line after spark.stop()
    // so nothing can land between it and process exit except sbt's own
    // epilogue, which the budget now accounts for.
    val gcByQuery = gcs.sortBy(_._1)
      .map { case (k, m) => "\"" + shortId(k) + "\":" + f"${m.gc}%.3f" }
      .mkString("{", ",", "}")
    // generated classes compiled over each entry's timed runs (file
    // artifact only): count and compile seconds, from the JVM-wide
    // CodegenMetrics / CodeGenerator counters
    val codegenByQuery = results.toSeq.sortBy(_._1)
      .map { case (k, m) => "\"" + shortId(k) + "\":{\"classes\":" + m.compiles +
        ",\"compile_s\":" + f"${m.compileS}%.3f" + "}" }
      .mkString("{", ",", "}")
    val sentinelJson = sents.map(v => f"$v%.3f").mkString("[", ",", "]")
    // full contention-requeue record (file artifact only — unbounded):
    // both windows' readings per requeued entry + the requeue window's own
    // sentinel ratio, so a reader can adjudicate which window was quiet
    val contendedJson = contendedPairs.toSeq.sortBy(_._1)
      .map { case (k, (f1, r)) =>
        "\"" + shortId(k) + "\":{\"first\":" + f"${f1.min}%.3f" +
          ",\"requeued\":" + f"${r.min}%.3f" + "}" }
      .mkString("{", ",", "}")
    // qc01 per-stage wall seconds (file artifact only): insertion order =
    // pipeline order, so the JSON reads as the stage sequence
    val qc01StagesJson = qc01Stages
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val fileLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""runs":$runs,"spread_max":${f"$spreadMax%.2f"},"spread_worst":$worst,""" +
      s""""gc_sec":${f"$gcTotal%.2f"},"gc_worst":$gcWorst,"gc_by_query":$gcByQuery,""" +
      s""""codegen":$codegenByQuery,""" +
      s""""sentinel":$sentinelJson,"sentinel_ratio":${f"$sentinelRatio%.2f"},""" +
      s""""contended":$contendedJson,"requeue_sentinel_ratio":${f"$requeueSentRatio%.2f"},""" +
      s""""qc01_stages":$qc01StagesJson,""" +
      s""""env":$envStamp,"sf":"$sfDir"}"""
    // 2-decimal, trailing zeros stripped ("0.30"→"0.3", "4.00"→"4") — the
    // stdout line sits within ~100 bytes of the driver's tail-capture
    // window and every saved byte is headroom for catalog growth
    def fmt2(v: Double): String =
      if (v < 0) "-1"
      else {
        val s = f"$v%.2f"
        if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
      }
    val qs2 = results.toSeq.sortBy(_._1)
      .map { case (k, m) => "\"" + shortId(k) + "\":" + fmt2(m.min) }
      .mkString("{", ",", "}")
    // contention witnesses on the PARSED line (the driver keeps only the
    // last ~2000 stdout bytes; budget audited below): sentinel_ratio plus
    // the per-entry GC seconds of the handful of entries where the
    // collector actually ran (≥0.05 s, top 5 — the rest are zeros that
    // live in the file artifact). Read rule: sentinel_ratio > 1.3 ⇒ the
    // machine was contended, discount the persist-heavy entries
    // (docs/SCALE.md).
    val gcHot = gcs.filter(_._2.gc >= 0.05).sortBy(-_._2.gc).take(5)
      .map { case (k, m) => "\"" + shortId(k) + "\":" + f"${m.gc}%.2f" }
      .mkString("{", ",", "}")
    // compact requeue witness for the parsed line (the full first/requeued
    // pairs live in the file artifact): how many entries were requeued and
    // whether the requeue window itself was quiet. The queries map above
    // already carries the post-requeue minima, so the headline converges
    // to the quiet number without a judge re-run. Omitted entirely on a
    // quiet run — zero bytes spent in the common case.
    val requeueWitness =
      if (contendedPairs.isEmpty) ""
      else s""""requeue":{"n":${contendedPairs.size},"sent":${f"$requeueSentRatio%.2f"}},"""
    val stdoutLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs2,""" +
      s""""runs":$runs,"spread_max":${f"$spreadMax%.2f"},"gc_sec":${f"$gcTotal%.2f"},""" +
      s""""gc_hot":$gcHot,"sentinel_ratio":${f"$sentinelRatio%.2f"},$requeueWitness""" +
      s""""env":$envStamp,"sf":"$sfDir"}"""
    // hard budget check: the driver tail-captures ~2000 bytes and sbt's
    // epilogue (~80 bytes) shares the window; a silent overflow ships
    // parsed:null, so fail loudly here instead
    if (stdoutLine.length > 1900)
      System.err.println(s"[bench] WARNING stdout line ${stdoutLine.length}B " +
        "> 1900B budget — driver tail capture may truncate it")
    val outFile = java.nio.file.Paths.get("target", "bench.json")
    java.nio.file.Files.createDirectories(outFile.getParent)
    java.nio.file.Files.write(outFile,
      (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] full metrics written to ${outFile.toAbsolutePath}")
    spark.stop()
    // Write the line straight to FD 1, not System.out: under an in-process
    // sbt `runMain`, System.out is sbt's logger stream and every line gets
    // an "[info] " prefix — which is what made the driver's JSON parser
    // report parsed:null on BENCH_r10 even though the line fit the tail.
    // FileDescriptor.out is the JVM's real stdout (the driver's pipe), so
    // the line lands bare and unprefixed; single write + flush so nothing
    // can interleave mid-line. Under plain `java graft.Bench` FD 1 and
    // System.out coincide and the behavior is unchanged.
    val fd1 = new java.io.FileOutputStream(java.io.FileDescriptor.out)
    fd1.write((stdoutLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    fd1.flush()
  }
}
