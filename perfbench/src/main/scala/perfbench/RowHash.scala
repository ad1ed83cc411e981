package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Order-insensitive digest of a result: row count plus the wrapping sum
  * of a 64-bit hash of each row's canonical (UnsafeRow) bytes. Equal
  * multisets of rows give equal digests on any partitioning; a changed
  * value, a lost row or a duplicated row changes the digest. */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  def hex: String = f"$hash%016x"
}

object RowHash {
  val Seed = 42L

  /** Digest of a partition's rows; `schema` describes them. */
  def digest(schema: StructType, it: Iterator[InternalRow]): Digest = {
    val proj = UnsafeProjection.create(schema)
    var rows = 0L; var h = 0L
    it.foreach { r =>
      val u = proj(r)
      h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, Seed)
      rows += 1
    }
    Digest(rows, h)
  }

  /** Execute `df` in full (every column, every operator of its final plan,
    * the final sort included) and digest its output in the same job. */
  def run(df: DataFrame): Digest = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(digest(schema, it)))
      .collect().foldLeft(Digest(0L, 0L))(_ + _)
  }
}
