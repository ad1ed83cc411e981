package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class RowHashSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
    StructField("x", DoubleType)))
  private def row(k: Long, s: String, x: java.lang.Double): InternalRow =
    InternalRow(k, if (s == null) null else UTF8String.fromString(s), x)
  private val rows = Seq(row(1, "a", 1.5), row(2, "b", -0.25), row(3, null, null))
  private def digest(rs: Seq[InternalRow]): Digest = RowHash.digest(schema, rs.iterator)

  test("row order and partitioning do not change the digest") {
    assert(digest(rows) == digest(rows.reverse))
    assert(digest(rows) == digest(rows.take(1)) + digest(rows.drop(1)))
    assert(digest(Nil) == Digest(0, 0))
  }

  test("a changed, lost or duplicated row changes the digest") {
    val d = digest(rows)
    assert(d.rows == 3)
    assert(digest(rows.updated(0, row(1, "a", 1.5000001))).hash != d.hash)
    assert(digest(rows.updated(1, row(2, "c", -0.25))).hash != d.hash)
    assert(digest(rows.drop(1)) != d)
    assert(digest(rows :+ rows.head) != d)
  }

  test("null is not zero or empty") {
    assert(digest(Seq(row(1, null, 0.0))).hash != digest(Seq(row(1, "", 0.0))).hash)
    assert(digest(Seq(row(1, "a", null))).hash != digest(Seq(row(1, "a", 0.0))).hash)
  }

  test("digests survive the golden file's hex round trip") {
    val d = digest(rows)
    assert(java.lang.Long.parseUnsignedLong(d.hex, 16) == d.hash)
  }
}
