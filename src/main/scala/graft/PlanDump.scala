package graft

/** Regenerates docs/PLANS.md — the executed physical plans (AQE final
  * plans, sf0.01) of the headline queries whose shapes PlanSpec asserts.
  * Run after any change that can move a headline plan:
  *
  *   sbt -batch "runMain graft.PlanDump"        # writes docs/PLANS.md
  *   sbt -batch "runMain graft.PlanDump /out.md /root/testdata/sf0.01"
  *
  * Plans are dumped AFTER materialization so AQE has re-planned
  * (isFinalPlan=true) — an unexecuted .explain shows only the initial
  * plan and hides the coalesced/broadcast decisions the doc exists to
  * show.
  */
object PlanDump {
  // (entry, one-line property the section header documents) — keep in
  // sync with PlanSpec's assertions; these five are the doc's contract
  private val headliners = Seq(
    "q01_agg" -> "filter pushdown + column pruning + partial aggregation",
    "q03_join_left" -> "broadcast dimension joins (no fact shuffle before the final agg)",
    "q06_cross_theta" -> "theta self-join kept equi-keyed on region (no cartesian)",
    "qt05_ngram_jaccard" -> "inverted-index near-dup join (shuffle on shingle key, then pair agg)",
    "q27_asof_join" -> "as-of join via union + single key-shuffle window")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("docs/PLANS.md")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder("local[4]", shufflePartitions = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of headline queries " +
      "(sf0.01, AQE final plans)\n\n")
    sb.append("Generated by `graft.PlanDump` (re-run it after plan-moving " +
      "changes); properties asserted in PlanSpec.\n")
    headliners.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // materialize: AQE finalizes the plan in place
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString)
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    System.err.println(s"[plandump] wrote ${headliners.size} plans to $out")
    spark.stop()
  }
}
