package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Runs a query's physical plan to its last row and returns (rows, digest).
  *
  * The digest is a polynomial hash over the rows in result order, each row
  * hashed from its UnsafeRow bytes. Partitions report (count, hash) and the
  * Spark driver concatenates them in partition order, so the digest depends on
  * the rows and their order only, not on how they were split into
  * partitions (core count, shuffle partitions).
  */
object Digest {
  private val Base = 1000003L

  private def pow(b: Long, e: Long): Long = {
    var r = 1L; var x = b; var n = e
    while (n > 0) { if ((n & 1) == 1) r *= x; x *= x; n >>= 1 }
    r
  }

  def of(qe: QueryExecution): (Long, String) = {
    val schema = qe.executedPlan.schema
    val parts = qe.toRdd.mapPartitionsWithIndex { (i, rows) =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        val lo = Murmur3_x86_32.hashUnsafeWords(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
        val hi = Murmur3_x86_32.hashUnsafeWords(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7)
        h = h * Base + ((hi.toLong << 32) | (lo & 0xffffffffL))
        n += 1
      }
      Iterator.single((i, n, h))
    }.collect().sortBy(_._1)
    val h = parts.foldLeft(0L) { case (acc, (_, n, ph)) => acc * pow(Base, n) + ph }
    (parts.map(_._2).sum, f"$h%016x")
  }
}
