package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Row count and order-free digest of a result. */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

/** Consumes every row and every column of a DataFrame's physical plan.
  *
  * `count()` lets Catalyst prune the projection it is meant to time (q09's
  * count plan reads `Aggregate count(1) <- Project [] <- Relation`), so the
  * benchmark never counts. It executes the plan the caller already forced,
  * as one SQL execution (so QueryExecutionListeners see it), projects each
  * row to its UnsafeRow form and sums an XXH64 of the row bytes: the sum is
  * independent of row order and partitioning, and equal results give equal
  * digests.
  */
object Consume {
  def digest(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("consume")) {
      qe.toRdd.mapPartitions { rows =>
        val toUnsafe = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        while (rows.hasNext) {
          val u = toUnsafe(rows.next())
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator.single((n, h))
      }.collect()
    }
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
