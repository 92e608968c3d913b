package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: the row count and the
  * wrapping sum of a 64-bit hash of each row's UnsafeRow encoding. Equal
  * multisets of rows with the same schema give equal digests whatever the
  * row order or partitioning; a changed, missing or extra row changes the
  * sum (up to 64-bit collisions). Two results are only comparable when
  * their columns are in the same order and of the same types. */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  override def toString: String = f"$rows:$sum%016x"
}

object RowHash {
  private val Seed = 0x5eedL

  /** Digest the rows of an executed plan, computed where the rows are
    * produced: one pass, and only two longs per partition are collected. */
  def ofRdd(rdd: RDD[InternalRow], schema: StructType): Digest =
    rdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var sum = 0L
      rows.foreach { r =>
        val u = proj(r)
        n += 1
        sum += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, Seed)
      }
      Iterator(Digest(n, sum))
    }.collect().foldLeft(Digest(0, 0))(_ + _)

  def of(df: DataFrame): Digest = ofRdd(df.queryExecution.toRdd, df.schema)
}
