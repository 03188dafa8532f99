package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
object TestSession {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_test_wh").toString
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite
  with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** One JVM hosts every suite: cached frames, persisted stage frames,
    * and localCheckpoint blocks (curation state, component labels) would
    * otherwise accumulate across suites until the shared heap fills —
    * PlanSpec aborted mid-run once the curation suites started
    * persisting their stage chains. Same discipline as Bench's
    * inter-entry isolation.
    */
  /** Entries in the shared session's CacheManager — a failed operator
    * must leave this where it found it.
    */
  def cachedEntries: Int = org.apache.spark.sql.graftbridge.CacheEntries(spark)

  /** `t` or one of its causes carries `msg` (task failures arrive wrapped). */
  def raisedWith(t: Throwable, msg: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains(msg)))

  override protected def afterAll(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    super.afterAll()
  }
}
