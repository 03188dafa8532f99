package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** graft's one diagnostic entry point (neither graft.Bench nor graft.Verify calls it):
  *
  *   sbt "runMain graft.Probe synth <sfDir> <copies> <outDir>"
  *   sbt "runMain graft.Probe jobs <entry> [sfDir] [plansOut]"
  *   sbt "runMain graft.Probe plans <outDir|docs/PLANS.md> [entries] [sfDir]"
  *
  *   - `synth` writes an N-copy scale fixture ([synthFixture]; the first
  *     stage of tools/sweep.sh).
  *   - `jobs` lists the Spark jobs of one warm entry run with their wall
  *     times, and optionally writes every action's executed plan — the
  *     only way to see the per-round plans of iterative entries, whose
  *     result frame is lineage-cut.
  *   - `plans` writes each entry's AQE-final executed plan and its
  *     `explain("formatted")`: one file per entry under `outDir`, or one
  *     markdown document when the target ends in `.md` (entries default to
  *     the PLANS.md headliners, sfDir to sf0.01).
  *
  * Every mode runs in the bench's session ([GraftSession.benchBuilder]),
  * so job counts and plans describe what `graft.Bench` times. Extra
  * session conf comes from the environment (the forked `run` JVM only sees
  * build.sbt's javaOptions, so -D flags from the shell never arrive):
  * GRAFT_PROBE_CONF="spark.sql.autoBroadcastJoinThreshold=-1;k2=v2" —
  * e.g. broadcast off to probe the plan shapes of the 100 TB regime, where
  * node-scale frames exceed any broadcast threshold and the joins go
  * sort-merge. Values cannot contain ';', and a segment without '=' fails
  * the probe rather than being dropped silently.
  */
object Probe {
  // (entry, one-line property its PLANS.md section documents) — keep in
  // sync with PlanSpec's assertions; these five are the doc's contract
  private val headliners = Seq(
    "q01_agg" -> "filter pushdown + column pruning + partial aggregation",
    "q03_join_left" -> "broadcast dimension joins (no fact shuffle before the final agg)",
    "q06_cross_theta" -> "theta self-join kept equi-keyed on region (no cartesian)",
    "qt05_ngram_jaccard" -> "inverted-index near-dup join (shuffle on shingle key, then pair agg)",
    "q27_asof_join" -> "as-of join via union + single key-shuffle window")

  private val usage =
    "usage: graft.Probe synth <sfDir> <copies> <outDir>\n" +
      "       graft.Probe jobs <entry> [sfDir] [plansOut]\n" +
      "       graft.Probe plans <outDir|docs/PLANS.md> [entries] [sfDir]"

  def main(args: Array[String]): Unit = args.toList match {
    case "synth" :: sfDir :: copies :: outDir :: Nil =>
      withSession { spark =>
        val t0 = System.nanoTime()
        synthFixture(spark, sfDir, outDir, copies.toInt)
        println(f"""{"probe":"synth","copies":$copies,"out":"$outDir","sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")
      }
    case "jobs" :: entry :: rest if rest.size <= 2 =>
      withSession(jobs(_, entry, rest.headOption.getOrElse("/root/testdata/sf0.1"), rest.lift(1)))
    case "plans" :: out :: rest if rest.size <= 2 =>
      val names = rest.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(headliners.map(_._1))
      withSession(plans(_, out, names, rest.lift(1).getOrElse("/root/testdata/sf0.01")))
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val builder = GraftSession.benchBuilder()
    sys.env.get("GRAFT_PROBE_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => builder.config(k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"GRAFT_PROBE_CONF segment '$kv' is not key=value")
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  /** Runs one catalog entry and consumes every column of its result.
    * `collect` on the entry's own frame, so AQE finalizes that frame's
    * plan in place — an unexecuted `.explain` shows only the initial plan,
    * and a `count()` plans a smaller query than the entry returns.
    */
  private def materialize(spark: SparkSession, entry: String, sfDir: String): DataFrame = {
    val df = SparkEntry.queries(entry)(spark, sfDir)
    df.collect()
    df
  }

  /** Drops every cached and lineage-cut block, so one run's state does not
    * leak into the next run's plans or timings.
    */
  private def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** One untimed warmup run (store builds + codegen), cache isolation, then
    * ONE timed run with listeners attached: per-job wall times, and every
    * action's executed plan written to `plansOut`.
    */
  private def jobs(spark: SparkSession, entry: String, sfDir: String,
                   plansOut: Option[String]): Unit = {
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
    materialize(spark, entry, sfDir)
    isolate(spark)
    done.clear()
    plans.clear()
    val t0 = System.nanoTime()
    materialize(spark, entry, sfDir)
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the async listener bus drain
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq.sortBy(_._1).foreach { case (id, desc, sec) =>
      println(f"job $id%3d  $sec%6.3f s  ${desc.take(90)}")
    }
    println(f"TOTAL $total%.3f s over ${done.size} jobs ($entry, $sfDir)")
    plansOut.foreach { out =>
      Files.write(Paths.get(out), plans.asScala.mkString("\n\n").getBytes(StandardCharsets.UTF_8))
      println(s"plans -> $out")
    }
  }

  /** Each entry's AQE-final executed plan and `explain("formatted")`,
    * written as `<out>/<entry>.txt`, or as sections of one markdown
    * document when `out` ends in `.md` (how docs/PLANS.md is made).
    */
  private def plans(spark: SparkSession, out: String, names: Seq[String],
                    sfDir: String): Unit = {
    val master = spark.sparkContext.master
    val sections = names.map { name =>
      val df = materialize(spark, name, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      isolate(spark)
      System.err.println(s"[probe] planned $name")
      name -> (s"---- executedPlan (AQE final) ----\n$executed\n\n" +
        s"---- explain(\"formatted\") ----\n$formatted\n")
    }
    if (out.endsWith(".md")) {
      val why = headliners.toMap
      val sb = new StringBuilder
      sb.append(s"# PLANS — executed physical plans of headline queries " +
        s"(${Paths.get(sfDir).getFileName}, $master, AQE final plans)\n\n")
      sb.append("Generated by `sbt \"runMain graft.Probe plans docs/PLANS.md\"` " +
        "(re-run it after plan-moving changes); properties asserted in PlanSpec.\n")
      sections.foreach { case (name, text) =>
        sb.append(s"\n## $name${why.get(name).fold("")(" — " + _)}\n\n```\n$text```\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
    } else {
      Files.createDirectories(Paths.get(out))
      sections.foreach { case (name, text) =>
        Files.writeString(Paths.get(out, s"$name.txt"), s"== $name ($sfDir, $master) ==\n\n$text")
      }
    }
    System.err.println(s"[probe] wrote ${sections.size} plans to $out")
  }

  /** Synthesize an `nCopies`-× scale fixture from `sfDir` into `outDir`
    * (tools/sweep.sh). Each scalable table is unioned `nCopies` times with
    * its key columns offset by i·2^40 per copy: disjoint key-space shards
    * of the same distribution, identical per-key density, TPC-H foreign
    * keys offset consistently so the join graph is `nCopies` disjoint
    * copies sharing the fixed dims (region, part). Fixture modulus
    * predicates survive scaling: 2^40 ≡ 1 (mod 25, 17, 31, 13), so
    * `doc_id % 25 == 0`-style splits select the same FRACTION of every
    * copy.
    *
    * Content must be re-keyed along with the ids: unioned copies with
    * IDENTICAL text are 90 % exact duplicates — a dedup pipeline kills
    * them at its first stage and the "10×" run measures ~1× (first probe
    * draft read exponent −0.12 for qc01 exactly this way). Per copy i:
    *   - documents: prefix every NON-STOPWORD token with the copy tag (a
    *     token-identity bijection that FIXES the langid/quality stopword
    *     union — the second probe draft tagged every token, the quality
    *     gate's stopword ratio read 0 on all scaled copies, and the
    *     curation entries killed 90 % of the "10×" corpus at their first
    *     filter). Intra-copy dup/near-dup structure is preserved exactly;
    *     quality/langid profiles are unchanged; cross-copy docs share
    *     only their stopword runs — so hot all-stopword shingles grow
    *     df×10, which is precisely the hot-posting stress the prefix
    *     filter exists for, while cross-copy Jaccard stays under the
    *     dedup thresholds;
    *   - embeddings: flip element signs by a deterministic (copy, dim)
    *     mask — norms and intra-copy cosines are preserved bit-exactly
    *     (the flips cancel inside every same-copy dot), cross-copy cosine
    *     decorrelates instead of being 1.0.
    */
  def synthFixture(spark: SparkSession, sfDir: String, outDir: String, nCopies: Int): Unit = {
    val off = 1L << 40
    val keyCols = Map(
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_suppkey"),
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      // events scale as disjoint USER copies with timestamps verbatim:
      // per-user event density (the entity every analytics window
      // partitions by) is preserved exactly, and the copies overlap in
      // time — 10× the concurrent users, which is what 10× traffic means
      "events" -> Seq("event_id", "user_id"),
      // nation scales so the reference-parity entries scale: the silver
      // zone/municipio universe derives from nation (zonesBronze,
      // municipiosShared, the INE fixtures), and q35's distance matrix —
      // the reference's one intrinsic O(n²) (silver/distances.py) — grows
      // with ZONES, not facts. A SMALL offset (1000/copy, keys stay Int:
      // fact-side n_nationkey FKs are NOT offset, so customer/supplier
      // joins keep matching copy 0 — dims are shared, the zone UNIVERSE
      // grows) + copy-tagged n_name below (zone IDs key on the name).
      "nation" -> Seq("n_nationkey"))
    val nationOff = 1000
    val verbatim = Seq("region", "part")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    keyCols.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$sfDir/$t.parquet")
      (0 until nCopies).map { i =>
        val rekeyed =
          if (t == "nation")
            // small Int offset (see keyCols note) + copy-tagged names so
            // zone IDs / municipio labels stay distinct across copies
            base.withColumn("n_nationkey", col("n_nationkey") + lit(i * nationOff))
              .withColumn("n_name",
                if (i == 0) col("n_name")
                else concat(col("n_name"), lit(s"_C$i")))
          else keys.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * off)))
        val stopAlt = graft.functions.TextFns.LangId.profiles.flatMap(_._2)
          .distinct.map(java.util.regex.Pattern.quote).mkString("|")
        val tagPat = s"(?<!\\S)(?!(?:$stopAlt)(?!\\S))(\\S+)"
        if (t == "documents" && i > 0)
          rekeyed.withColumn("text",
            regexp_replace(col("text"), tagPat, s"c$i$$1"))
        else if (t == "embeddings" && i > 0)
          rekeyed.withColumn("embedding",
            transform(col("embedding"), (x, j) =>
              when(pmod(xxhash64(lit(i), j), lit(2)) === 0, x).otherwise(-x)))
        else rekeyed
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    verbatim.foreach { t =>
      // read-and-rewrite, not Files.copy: the fixture table may be a
      // DIRECTORY of part files (the exact layout Spark — including this
      // probe — writes), and a path-level copy would copy only the empty
      // directory entry, silently losing the dim tables when the probe
      // chains off a synthesized fixture.
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }
}
