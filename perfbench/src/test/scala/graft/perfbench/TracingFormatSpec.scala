package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{ChangeSet, IncrementalRead, TableFormat, VacuumStats, Vacuumable}
import graft.ingest.Sources

class TracingFormatSpec extends AnyFunSuite {

  /** A backend that only records which of its members were called. */
  private class Recording extends TableFormat {
    val calls = ArrayBuffer.empty[String]
    def read(table: String): DataFrame = { calls += "read"; null }
    def readVersion(table: String, version: Long): DataFrame = { calls += "readVersion"; null }
    override def readVersionRange(table: String, version: Long, column: String,
        lower: Option[Any], upper: Option[Any]): DataFrame = { calls += "readVersionRange"; null }
    override def statsUpperBound(table: String, version: Long, column: String): Option[Any] = {
      calls += "statsUpperBound"; Some(7L) }
    def currentVersion(table: String): Long = { calls += "currentVersion"; 3L }
    def tryCommit(table: String, df: DataFrame, expectedBase: Long): Long = {
      calls += "tryCommit"; expectedBase + 1 }
    override def overwrite(table: String, df: DataFrame): Unit = calls += "overwrite"
    override def tryAppend(table: String, delta: DataFrame, ontoVersion: Long,
        expectedBase: Long): Long = { calls += "tryAppend"; expectedBase + 1 }
    override def tryDeleteRows(table: String, keys: DataFrame, ontoVersion: Long,
        expectedBase: Long): Long = { calls += "tryDeleteRows"; expectedBase + 1 }
  }
  private class RecordingFull extends Recording with IncrementalRead with Vacuumable {
    def changesBetween(table: String, fromVersion: Long, toVersion: Long): ChangeSet = {
      calls += "changesBetween"; ChangeSet(null, Map.empty) }
    def vacuum(table: String, retainFrom: Long, olderThanMs: Long): VacuumStats = {
      calls += "vacuum"; VacuumStats(1, 2, 3) }
  }

  /** Members a backend may override: every non-final method the trait
    * declares (the final merge operations call these). */
  private def overridable(t: Type): Set[String] =
    t.decls.collect { case m: MethodSymbol
      if !m.isConstructor && !m.isFinal && !m.isSynthetic && !m.name.toString.contains("$") =>
      m.name.toString }.toSet

  private def declared(t: Type): Set[String] =
    t.decls.collect { case m: MethodSymbol => m.name.toString }.toSet

  test("the delegating backend overrides every overridable TableFormat member") {
    val members = overridable(typeOf[TableFormat])
    assert(members == Set("read", "readVersion", "readVersionRange", "statsUpperBound",
      "currentVersion", "tryCommit", "overwrite", "tryAppend", "tryDeleteRows"))
    assert(members -- declared(typeOf[TracingFormat]) == Set.empty)
    assert(overridable(typeOf[IncrementalRead]) -- declared(typeOf[TracingFormat.ForwardIncremental]) == Set.empty)
    assert(overridable(typeOf[Vacuumable]) -- declared(typeOf[TracingFormat.ForwardVacuum]) == Set.empty)
  }

  test("every call reaches the same member of the wrapped backend, default-bodied ones included") {
    val inner = new RecordingFull
    val tracer = new Tracer(enabled = true, "spec")
    val f = TracingFormat.wrap(inner, tracer)
    f.read("t"); f.readVersion("t", 1); f.readVersionRange("t", 1, "c", None, None)
    assert(f.statsUpperBound("t", 1, "c").contains(7L))
    assert(f.currentVersion("t") == 3L)
    assert(f.tryCommit("t", null, 4) == 5L)
    f.overwrite("t", null)
    assert(f.tryAppend("t", null, 1, 5) == 6L)
    assert(f.tryDeleteRows("t", null, 1, 6) == 7L)
    f.asInstanceOf[IncrementalRead].changesBetween("t", 1, 2)
    assert(f.asInstanceOf[Vacuumable].vacuum("t", 1, 0L) == VacuumStats(1, 2, 3))
    assert(inner.calls.toSeq == Seq("read", "readVersion", "readVersionRange", "statsUpperBound",
      "currentVersion", "tryCommit", "overwrite", "tryAppend", "tryDeleteRows",
      "changesBetween", "vacuum"))
    val names = tracer.recorded.map(_.name)
    assert(names.count(_ == TracingFormat.Read) == 4)
    assert(names.count(_ == TracingFormat.Version) == 2)
    assert(names.count(_ == TracingFormat.Commit) == 5)
  }

  test("the wrapper has exactly the wrapped backend's mix-ins") {
    val t = new Tracer(enabled = false, "spec")
    val full = TracingFormat.wrap(new RecordingFull, t)
    assert(full.isInstanceOf[IncrementalRead] && full.isInstanceOf[Vacuumable])
    val plain = TracingFormat.wrap(new Recording, t)
    assert(!plain.isInstanceOf[IncrementalRead] && !plain.isInstanceOf[Vacuumable])
    val incOnly = TracingFormat.wrap(new Recording with IncrementalRead {
      def changesBetween(table: String, a: Long, b: Long) = ChangeSet(null, Map.empty) }, t)
    assert(incOnly.isInstanceOf[IncrementalRead] && !incOnly.isInstanceOf[Vacuumable])
  }

  test("the delegating fetcher forwards and counts bytes") {
    val inner = new Sources.Fetcher {
      def fetch(url: String, bearerToken: Option[String]) =
        if (url.endsWith(".html")) Sources.Html("<p>é</p>") else Sources.Json("{}")
    }
    val tracer = new Tracer(enabled = true, "spec")
    val f = new TracingFetcher(inner, tracer)
    assert(f.fetch("a.html") == Sources.Html("<p>é</p>"))
    assert(f.fetch("b.json", Some("tok")) == Sources.Json("{}"))
    assert(f.bytes == 9 + 2)
    assert(tracer.recorded.count(_.name == TracingFetcher.Fetch) == 2)
  }
}
