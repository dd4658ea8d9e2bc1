package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** The consuming action: executes the already-planned physical plan once and
  * folds every output row, all columns, into an order-independent digest
  * (row count, XOR and wrapping sum of the rows' 64-bit hashes).
  *
  * Rows are hashed in their canonical UnsafeRow encoding, so equal values
  * give equal hashes whatever operator produced them. Running the query's
  * own plan (not a new Dataset wrapped around it) keeps the action from
  * re-analysing and re-planning what the planning step already did, and
  * unlike `count()` it lets the optimizer prune nothing.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var xor = 0L
        var sum = 0L
        while (rows.hasNext) {
          val u = proj(rows.next())
          val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
          xor ^= h
          sum += h
        }
        Iterator.single((n, xor, sum))
      }.collect()
    }
    val xor = parts.foldLeft(0L)(_ ^ _._2)
    val sum = parts.foldLeft(0L)(_ + _._3)
    (parts.map(_._1).sum, f"$xor%016x$sum%016x")
  }
}
