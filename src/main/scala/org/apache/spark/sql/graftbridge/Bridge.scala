package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.storage.StorageLevel

/** Column ↔ Expression bridge, and the one way a frame crosses a
  * materialization boundary ([materialize] in memory, [durable] on
  * storage). Spark 4 made the conversions and the LogicalRDD plumbing
  * `private[sql]` (ExpressionUtils in columnNodeSupport.scala); extension
  * libraries conventionally reach them from a package under
  * org.apache.spark.sql. This is the only graft code inside Spark's
  * namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame that crossed a cache cut ([materialize]): `view` serves the
    * cached rows through a flat plan; `release()` drops the cache entry,
    * after which the view recomputes through RDD lineage (correct, just
    * uncached). Only `release()` frees the entry — the CacheManager holds
    * it strongly until then.
    */
  final class Cut private[graftbridge] (val view: DataFrame, cached: DataFrame) {
    def release(): Unit = cached.unpersist(blocking = false)
  }

  /** Cross a materialization boundary in memory: persist `df` at `level`,
    * run the caller's `action` on the persisted frame (it fills the cache;
    * callers pick the action whose result they need anyway — a noop-sink
    * write, a count, a histogram — so the boundary costs no extra job),
    * then cut the logical lineage. If the action throws, the cache entry
    * is dropped before the exception propagates.
    *
    * Why the cut: in an iterative or composed pipeline where frame N
    * references frame N−1 two or more times (anti-joins, pair generation,
    * round joins), the LOGICAL tree grows geometrically with depth even
    * though caches deduplicate execution, and the analyzer/optimizer walk
    * the full tree on every downstream action. The cut view is a flat
    * LogicalRDD over the cached physical RDD — the `Dataset.checkpoint`
    * plan shape minus the RDD copy — and, unlike a (local) checkpoint,
    * it keeps the frame's hash outputPartitioning under AQE, so joins
    * keyed the way the frame is partitioned stay exchange-free
    * (PlanSpec/DedupSpec gate it).
    */
  def materialize(df: DataFrame, level: StorageLevel)(action: DataFrame => Unit): Cut = {
    val p = df.persist(level)
    try { action(p); new Cut(cutLineage(p), p) }
    catch { case t: Throwable => p.unpersist(blocking = false); throw t }
  }

  private val durableCallSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A fresh per-call subdirectory `<root>/<prefix>_<n>` for [durable]
    * slots. A durable result is a LAZY scan of its last slot, so a second
    * call sharing `root` must not overwrite it before the caller consumes
    * it. The subdirectories are never deleted here (the operator cannot
    * know when the caller is done with the scan): the caller owns
    * reclamation (docs/DEPLOY.md). The counter is JVM-scoped, so a new JVM
    * reusing `root` starts again from `_1`.
    */
  def durableCallDir(root: String, prefix: String): String =
    s"$root/${prefix}_${durableCallSeq.incrementAndGet()}"

  /** Cross a materialization boundary on durable storage: write `df` to
    * parquet at `path` (overwriting) and return the scan of the files.
    * Lineage is bounded and, unlike cache or checkpoint blocks, the rows
    * survive executor loss. Doubles round-trip parquet bit-exactly.
    */
  def durable(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Cut a DataFrame's LOGICAL lineage without materializing anything:
    * the returned frame's plan is a flat LogicalRDD over the input's
    * physical execution RDD (partitioning/ordering/stats carried over).
    * Executing it runs the original physical plan, so it is only cheap
    * while `df` is persisted and already materialized — which is why it
    * is reachable only through [materialize].
    */
  private def cutLineage(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    // toRdd FIRST: executing the AdaptiveSparkPlanExec finalizes it, so the
    // partitioning/ordering read below describe the plan that actually
    // produced the RDD's rows
    val rdd = qe.toRdd
    // `LogicalRDD.fromDataset` reads executedPlan.outputPartitioning — but
    // under AQE executedPlan IS the AdaptiveSparkPlanExec wrapper, which
    // does not override outputPartitioning (SparkPlan's default:
    // UnknownPartitioning). Every cut view therefore silently reported
    // Unknown and downstream joins re-inserted exchanges whenever the
    // planner chose a sort-merge join (the 100 TB regime; fixture-scale
    // plans hid it behind broadcasts — found in r17's broadcast-off CC
    // probe). Read the FINALIZED inner plan instead and rewrite its
    // partitioning/ordering onto the view's output attributes, falling
    // back to Unknown when any referenced attribute does not survive
    // into the output.
    val inner = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // An alias-aware projection on top (e.g. `id AS component`) reports a
    // PartitioningCollection with the alias variant possibly FIRST — keep
    // every member that survives the attribute rewrite, not just the
    // head, or the join-key variant is silently dropped.
    def flatten(p: Partitioning): Seq[Partitioning] = p match {
      case c: PartitioningCollection => c.partitionings.flatMap(flatten)
      case other => Seq(other)
    }
    val assoc: Map[Attribute, Attribute] =
      LogicalRDD.buildOutputAssocForRewrite(inner.output, ds.logicalPlan.output)
        .getOrElse(Map.empty)
    // None when an attribute the expression references does not survive
    def rewrite[E <: Expression](e: E): Option[E] =
      Option.when(e.references.forall(assoc.contains))(
        e.transform { case a: Attribute => assoc(a) }.asInstanceOf[E])
    val partitioning: Partitioning = {
      val kept = flatten(inner.outputPartitioning).flatMap {
        case u: UnknownPartitioning => Some(u)
        case e: Expression with Partitioning => rewrite(e).map(_.asInstanceOf[Partitioning])
        case attrFree => Some(attrFree) // SinglePartition / round-robin
      }
      kept match {
        case Seq() => UnknownPartitioning(0)
        case Seq(one) => one
        case many => PartitioningCollection(many)
      }
    }
    val ordering: Seq[SortOrder] = {
      val o = inner.outputOrdering.map(rewrite(_))
      if (o.forall(_.isDefined)) o.flatten else Nil
    }
    val (stats, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD(ds.logicalPlan.output, rdd, partitioning, ordering.toSeq,
        isStreaming = false)(ds.sparkSession, stats, constraints))
  }

  /** Eagerly CONVERT a Column's node tree to a catalyst Expression
    * (UnresolvedFunction-containing, analyzer-resolvable) — unlike
    * [expression], whose lazy ColumnNodeExpression wrapper is only
    * unwrapped by the classic Dataset API paths and reaches codegen
    * unconverted when returned from an injected SQL FunctionBuilder.
    */
  def converted(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)
}
