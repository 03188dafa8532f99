package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Scale-sweep regime: shuffle-partition count must ride the fixture
    // (the spill-aware sizing rule — at 100× on cpus-many partitions the
    // 60M-row graph joins sort millions of rows per task and the single-JVM
    // execution pool throws UNABLE_TO_ACQUIRE_MEMORY, measured in the
    // exponent probe). Unset (the driver regime) = cpus, as always.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = GraftSession.builder(s"local[$cpus]", shufflePartitions.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: comma-separated query names; unset (the
    // driver's invocation) dumps everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Scale-sweep regime only: a per-entry wall cap, so an entry that is
    // CAPACITY-bound at a synthesized fixture (qt12r's exact all-pairs
    // baseline at 100× = 2·10¹⁰ pairs by definition) classifies as a
    // self-describing skip (`_CAPACITY` marker, read by diffcheck) instead
    // of stalling the sweep for hours. Unset in the driver regime — a
    // base-scale entry must never be capped.
    val entryCapSec = sys.env.get("SPARK_GRAFT_ENTRY_TIMEOUT").map(_.toInt)
    final case class EntryCapped(sec: Int) extends Exception(s"wall-cap ${sec}s")
    def runCapped(name: String, run: () => Unit): Unit = entryCapSec match {
      case None => run()
      case Some(cap) =>
        import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
        import scala.concurrent.duration._
        // DEDICATED single-thread daemon executor per capped entry — never
        // the global pool: an orphaned cancel that fails to unwind within
        // the grace would permanently occupy a global-pool worker, and
        // enough leaked workers starve later entries into spurious
        // _CAPACITY timeouts. A private executor is simply shut down; the
        // daemon flag keeps a stuck orphan from blocking JVM exit.
        val exec = java.util.concurrent.Executors.newSingleThreadExecutor(
          (r: Runnable) => {
            val t = new Thread(r, s"verify-capped-$name"); t.setDaemon(true); t
          })
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(exec)
        // job group must be set on the thread that SUBMITS the jobs
        // (localProperties are thread-local; executor threads don't
        // inherit the main thread's)
        val fut = Future {
          spark.sparkContext.setJobGroup(name, s"verify:$name",
            interruptOnCancel = true)
          run()
        }
        // finally is the single shutdown authority: the success path, the
        // timeout path, AND an entry that throws any other exception all
        // reach it — without it, a failed entry's rethrow out of
        // Await.result leaked the private daemon thread for the JVM
        // lifetime (one per failed entry). shutdownNow on an already-done
        // or already-shut executor is idempotent.
        try Await.result(fut, cap.seconds)
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(name)
            // grace window for the cancel to unwind the writer (abandoning
            // a thread still submitting jobs would corrupt the next entry's
            // scheduling); if it doesn't land, the orphan keeps only its
            // own private daemon thread — and because it may still finish
            // a mode(overwrite) write AFTER the _CAPACITY marker lands,
            // the caller's marker write below re-creates the dir fresh.
            val unwound = scala.util.Try(Await.result(fut, 120.seconds)).isSuccess
            if (!unwound)
              System.err.println(s"[verify] $name: cancel did not unwind in " +
                "grace — orphan left on its private daemon thread; entry dir " +
                "will be recreated for the marker")
            throw EntryCapped(cap)
        }
        finally exec.shutdownNow()
    }
    // Scale-sweep regime: entries MEASURED to exceed the machine at the
    // fixture (qt12r at 100× fills the disk with ~10¹⁰ LSH candidate id
    // pairs before any wall cap can fire) are pre-declared — the marker
    // is written without running, diffcheck attaches the
    // CAPACITY_BY_DESIGN rationale, and the skip is visible in the parity
    // record. Never a silent cap: absent from this list = the entry runs.
    val preDeclared = sys.env.get("SPARK_GRAFT_CAPACITY_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // Scale-sweep regime: resume an interrupted dump — entries with a
    // complete artifact (parquet _SUCCESS or _CAPACITY marker) from a
    // previous run against the SAME fixture/outDir are kept, so a
    // mid-dump crash doesn't restart a multi-hour sweep from entry one.
    val resume = sys.env.get("SPARK_GRAFT_RESUME").contains("1")
    def hasArtifact(name: String): Boolean = {
      val d = new java.io.File(s"$outDir/$name")
      new java.io.File(d, "_SUCCESS").exists() ||
        new java.io.File(d, "_CAPACITY").exists()
    }
    // Between-entry cache isolation (Bench.isolate's rule applied to the
    // dump): entries that persist/localCheckpoint internally leak storage
    // blocks into the shared JVM, and because `queries` is a HashMap the
    // ENTRY ORDER shifts whenever the catalog grows — the r14 100× dump
    // OOMed the 8g heap when the hash order made a new panel entry the
    // first to pay the 160M-edge store build on top of accumulated blocks
    // (r13's order survived the same build). Safe between entries: each
    // entry is fully written to parquet before the next starts, so no
    // later scan depends on an earlier entry's cached/checkpointed frame.
    def isolate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      isolate()
      if (preDeclared.contains(name)) {
        System.err.println(s"[verify] $name CAPACITY: pre-declared skip at $sfDir")
        val d = new java.io.File(s"$outDir/$name")
        org.apache.commons.io.FileUtils.deleteQuietly(d); d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_CAPACITY"),
          "pre-declared (measured capacity at this fixture; see CAPACITY_BY_DESIGN)\n")
      } else if (resume && hasArtifact(name)) {
        System.err.println(s"[verify] $name RESUME: artifact kept")
      } else
      try runCapped(name, () =>
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
      catch {
        case EntryCapped(sec) =>
        // capacity, not failure: clear any partial artifact, leave a marker
        // diffcheck classifies (with the CAPACITY_BY_DESIGN rationale when
        // registered), keep errors.json for true failures only
        System.err.println(s"[verify] $name CAPACITY: wall-cap ${sec}s at $sfDir")
        val d = new java.io.File(s"$outDir/$name")
        org.apache.commons.io.FileUtils.deleteQuietly(d); d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_CAPACITY"), s"wall-cap ${sec}s\n")
        case e: Throwable =>
        // A broken entry must be LOUD, never absent: r7 lost five queries
        // from CORRECTNESS because a thrown analysis error left no artifact
        // for the driver to diff. Write a _FAILED marker in the query's own
        // output dir (so any globber sees a red row, not a missing one) and
        // collect into errors.json.
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        val d = new java.io.File(s"$outDir/$name"); d.mkdirs()
        // clear any stale parquet from a previous green run of this name —
        // a leftover success artifact would mask the failure
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && (f.getName.endsWith(".parquet") || f.getName.startsWith("_SUCCESS") || f.getName.startsWith(".")))
          .foreach(_.delete())
        Files.writeString(Paths.get(s"$outDir/$name/_FAILED"), msg + "\n")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // always written (empty {} when clean) so "no errors.json" is itself a
    // detectable anomaly, distinct from "no failures"
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    // A mid-dump SparkContext death (executor OOM in local mode, fatal
    // uncaught exception) fails every remaining entry with the SAME
    // stopped-context error — those _FAILED markers describe the crash,
    // not the entries. Exit nonzero so a caller (tools/sweep.sh) aborts
    // instead of diffing a dump that is mostly crash residue. The jsons
    // above are still written: the partial dump is inspectable.
    if (spark.sparkContext.isStopped) {
      System.err.println("[verify] ABORT: SparkContext stopped mid-dump — " +
        "entries after the stop are crash residue, not results")
      sys.exit(2)
    }
    spark.stop()
  }
}
