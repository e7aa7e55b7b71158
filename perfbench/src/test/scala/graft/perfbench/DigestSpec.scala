package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val cols = Seq("a", "b")

  test("the digest depends on row order, values and column names") {
    val rows = Seq(Row(1, "x"), Row(2, null))
    val d = Digest.of(cols, rows)
    assert(d == Digest.of(cols, Seq(Row(1, "x"), Row(2, null))))
    assert(d != Digest.of(cols, rows.reverse))
    assert(d != Digest.of(Seq("a", "c"), rows))
    assert(d != Digest.of(cols, Seq(Row(1, "x"), Row(2, "null"))))
  }

  test("timestamps and dates digest the same in every default zone") {
    val rows = Seq(Row(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-10T23:30:00Z")),
      java.sql.Date.valueOf("2024-01-10"), Seq(1.5f, 2.0f)))
    val zone = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
      val utc = Digest.of(Seq("t", "d", "v"), rows)
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      // the Date is re-created in the new zone, as Spark would collect it
      val tokyoRows = Seq(Row(rows.head.get(0), java.sql.Date.valueOf("2024-01-10"), Seq(1.5f, 2.0f)))
      assert(Digest.of(Seq("t", "d", "v"), tokyoRows) == utc)
    } finally java.util.TimeZone.setDefault(zone)
  }
}
