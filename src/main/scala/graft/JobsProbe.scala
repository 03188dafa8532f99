package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall times and per-action EXECUTED plans of one catalog entry
  * run — ScaleProbe-family diagnostic tooling (never part of the driver
  * contract). Two uses:
  *
  *   1. the job-floor audit (how many AQE stage-jobs does an iterative
  *      entry schedule, and where does the wall time go between them);
  *   2. capturing the per-action executed plans of entries whose RESULT
  *      frame is checkpoint-truncated (the iterative family: per-round CC
  *      label plans, per-iteration PageRank plans, curation stage
  *      materializations) — the before/after evidence files under plans/
  *      that a final-frame `.explain` can never show.
  *
  * One untimed warmup run (store builds + codegen), cache isolation, then
  * ONE timed run with listeners attached.
  *
  *   sbt "runMain graft.JobsProbe <entry> [sfDir] [plansOutFile]"
  */
object JobsProbe {
  def main(args: Array[String]): Unit = {
    val entry = args.headOption.getOrElse("q50_pagerank")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val plansOut = args.lift(2)
    // extra session conf via env (the forked `run` JVM only sees
    // build.sbt's javaOptions, so -D flags from the shell never arrive):
    // GRAFT_PROBE_CONF="spark.sql.autoBroadcastJoinThreshold=-1;k2=v2"
    // — e.g. broadcast off to probe the plan shapes of the 100 TB regime,
    // where node-scale frames exceed any broadcast threshold and the
    // joins go sort-merge. Values cannot contain ';', and a segment
    // without '=' fails the probe rather than being dropped silently.
    val builder = GraftSession.builder()
    sys.env.get("GRAFT_PROBE_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => builder.config(k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"GRAFT_PROBE_CONF segment '$kv' is not key=value")
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties.getProperty("spark.job.description"))
          .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
        jobs.put(js.jobId, (desc, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (desc, t0) =>
          done.add((je.jobId, desc, (System.nanoTime() - t0) / 1e9))
        }
      }
    })
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(f"== action $funcName (${durationNs / 1e9}%.3f s) ==\n" +
          qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    // warmup run (store build + codegen), then the timed run
    SparkEntry.queries(entry)(spark, sfDir).count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    done.clear()
    plans.clear()
    val t0 = System.nanoTime()
    SparkEntry.queries(entry)(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the async listener bus drain
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq.sortBy(_._1).foreach { case (id, desc, sec) =>
      println(f"job $id%3d  $sec%6.3f s  ${desc.take(90)}")
    }
    println(f"TOTAL $total%.3f s over ${done.size} jobs ($entry, $sfDir)")
    plansOut.foreach { out =>
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        plans.asScala.mkString("\n\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"plans -> $out")
    }
    spark.stop()
  }
}
