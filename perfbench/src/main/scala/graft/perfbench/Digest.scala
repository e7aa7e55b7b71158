package graft.perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-sensitive digest of a query's result: SHA-256 over the column
  * names and every row in result order, each value rendered in one
  * canonical form (timestamps as epoch micros, dates as ISO days, so
  * the JVM's default zone cannot change a digest). */
object Digest {

  def of(df: DataFrame): String = of(df.columns.toSeq, df.collect().toSeq)

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    put(columns.mkString("cols(", ",", ")\n"))
    rows.foreach { r => put(render(r)); put("\n") }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      s"ts${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case i: java.time.Instant => s"ts${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case d: java.sql.Date => s"d${d.toLocalDate}"
    case d: java.time.LocalDate => s"d$d"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => s"n${d.toPlainString}"
    case s: String => "\"" + s + "\""
    case x => x.toString
  }
}
