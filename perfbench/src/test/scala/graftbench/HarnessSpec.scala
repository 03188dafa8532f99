package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Checks that the harness measures what it claims to: full consumption,
  * order-free digests, plan shape read through AQE, module attribution.
  * Run with `sbt test` from perfbench/.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val data = new java.io.File("data/sf0.01").getAbsolutePath
  private lazy val spark: SparkSession = {
    val s = graft.GraftSession.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("q09's consumed plan evaluates every projected scalar function; count() prunes them") {
    val df = SparkEntry.queries("q09_scalar_string")(spark, data)
    val d = Consume.digest(df)
    assert(d.rows == df.count())
    val projected = finalPlan(df.queryExecution.executedPlan)
      .collect { case p: ProjectExec => p.projectList.map(_.name) }.flatten
    assert(df.columns.toSet.subsetOf(projected.toSet), projected)
    val consumedSql = finalPlan(df.queryExecution.executedPlan).toString
    val fns = Seq("regexp_replace", "lpad", "lower", "trim", "stringsplitsql")
    fns.foreach(f => assert(consumedSql.contains(f), f))
    // the trap the benchmark avoids: under count() none of them run
    val countSql = df.groupBy().count().queryExecution.executedPlan.toString
    fns.foreach(f => assert(!countSql.contains(f), f))
  }

  test("digest ignores row order and partitioning, and sees a changed value") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).cast("string").as("s"))
    val d = Consume.digest(df)
    assert(d.rows == 1000)
    assert(Consume.digest(df.repartition(5).orderBy(col("id").desc)) == d)
    assert(Consume.digest(df.withColumn("s", when(col("id") === 3, lit("x")).otherwise(col("s")))) != d)
  }

  test("plan shape is read from AQE's final plan, not its wrapper") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.range(0, 2000).select((col("id") % 100).as("k"), col("id").as("a"))
      val b = spark.range(0, 3000).select((col("id") % 100).as("k"), col("id").as("b"))
      val df = a.join(b, "k").groupBy("k").count()
      Consume.digest(df)
      val shape = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      Trace.planShape(df.queryExecution.executedPlan, shape)
      assert(shape("plan.smj") == 1)
      assert(shape("plan.exchanges") >= 2)
      assert(shape("plan.bhj") == 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("jobs are charged to the innermost graft frame of their call site") {
    val t = new Trace(spark)
    val site = Seq(
      "org.apache.spark.sql.DataFrameReader.parquet(DataFrameReader.scala:563)",
      "graft.sources.Tables$.table(Tables.scala:21)",
      "graft.queries.Relational$.$anonfun$defs$1(Relational.scala:40)",
      "graftbench.EntryOp.run(Workloads.scala:55)").mkString("\n")
    assert(t.moduleOf(site).contains("sources"))
    assert(t.moduleOf("x.y(Z.scala:1)\ngraft.operators.Dedup$.connectedComponents(Dedup.scala:595)")
      .contains("operators.Dedup"))
    assert(t.moduleOf("graft.pipeline.Curation$.stages(Curation.scala:300)").contains("pipeline.Curation"))
    assert(t.moduleOf("graftbench.Consume$.digest(Consume.scala:30)").isEmpty)
  }
}
