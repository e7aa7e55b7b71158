package graft

import org.json4s.{JObject, JValue}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's compact final line is the artifact a reader parses from
  * a fixed-size tail of the output: it must stay within
  * [[Bench.CompactLineMax]] and stay valid JSON however many queries
  * fail. */
class BenchLineSpec extends AnyFunSuite {

  /** A stand-in for Bench's renderer: `topN` per-query entries around
    * the two run-sized fields, with a fixed-size remainder. */
  private def line(topN: Int, errField: String, skipField: String): String = {
    val qs = (1 to topN).map(i => s""""q_query_number_$i":12.345""").mkString("{", ",", "}")
    s"""{"metric":"total","queries":$qs,${"\"pad\":0,"* 40}$skipField$errField"value":1.0}"""
  }

  private implicit val fmts: org.json4s.DefaultFormats.type = org.json4s.DefaultFormats

  /** The line parsed as JSON: field name -> value. */
  private def fields(l: String): Map[String, JValue] =
    org.json4s.jackson.JsonMethods.parse(l) match {
      case JObject(kvs) => kvs.toMap
      case other        => fail(s"not a JSON object: $other")
    }

  private def shown(f: Map[String, JValue]): Int = f("queries") match {
    case JObject(kvs) => kvs.size
    case other        => fail(s"queries is not an object: $other")
  }

  test("few failures keep the full error list and the top-25 map") {
    val l = Bench.compactWithin(Seq("q_a", "q_b"), "")(line)
    assert(l.length <= Bench.CompactLineMax)
    assert(fields(l)("errors").extract[List[String]] == List("q_a", "q_b"))
    assert(shown(fields(l)) == 25)
  }

  test("many failed names collapse to a count and the line stays within budget") {
    val failed = (1 to 400).map(i => s"q_failed_query_with_a_long_name_$i")
    val reason = "r" * 3000
    val l = Bench.compactWithin(failed, reason)(line)
    assert(l.length <= Bench.CompactLineMax, l.length)
    val f = fields(l)
    assert(f("errors_n").extract[Int] == 400)
    assert(f("corpus_day_skip_chars").extract[Int] == 3000)
    assert(!f.contains("errors") && !f.contains("corpus_day_skip"))
    // with the errors cut to a count, the query map fits again
    assert(shown(f) == 25)
  }

  test("an error list that fits beside a smaller query map is kept whole") {
    val failed = (1 to 20).map(i => s"q_failed_query_with_a_long_name_$i")
    val l = Bench.compactWithin(failed, "budget")(line)
    assert(l.length <= Bench.CompactLineMax, l.length)
    val f = fields(l)
    assert(f("errors").extract[List[String]] == failed.toList)
    assert(f("corpus_day_skip").extract[String] == "budget")
    assert(shown(f) < 25)
  }
}
