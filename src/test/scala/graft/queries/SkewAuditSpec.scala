package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class SkewAuditSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  test("an empty family prints an empty-family line instead of throwing") {
    val empty = spark.range(10).selectExpr("id % 3 AS band").filter("band < 0")
    val lines = SkewAudit.audit("empty fam", empty, Seq("band"), 4)
    assert(lines.size == 1 && lines.head.contains("empty family"), lines)
  }

  test("a non-empty family reports bucket sizes and the cap") {
    // buckets of 4, 3, 3 rows; cap 3 drops one row from the largest
    val df = spark.range(10).selectExpr("id % 3 AS band")
    val lines = SkewAudit.audit("fam", df, Seq("band"), 3)
    assert(lines.size == 2, lines)
    assert(lines.head.contains("buckets=3") && lines.head.contains("rows=10") &&
      lines.head.contains("max=4"), lines.head)
    assert(lines(1).contains("rows_dropped=1") && lines(1).contains("top5=[4,3,3]"), lines(1))
  }
}
