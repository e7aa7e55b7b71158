package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{ChangeSet, IncrementalRead, TableFormat, VacuumStats, Vacuumable}
import graft.ingest.Sources

/** Delegating [[TableFormat]] that records a span around every call and
  * forwards it unchanged, default-bodied members included, so the
  * program takes exactly the paths it takes on the wrapped backend.
  * Use [[TracingFormat.wrap]]: it also forwards the
  * [[IncrementalRead]]/[[Vacuumable]] mix-ins the wrapped backend has,
  * and only those. */
class TracingFormat(val inner: TableFormat, val tracer: Tracer) extends TableFormat {
  import TracingFormat._

  override def read(table: String): DataFrame =
    tracer.span(Read)(inner.read(table))
  override def readVersion(table: String, version: Long): DataFrame =
    tracer.span(Read)(inner.readVersion(table, version))
  override def readVersionRange(table: String, version: Long, column: String,
      lower: Option[Any], upper: Option[Any]): DataFrame =
    tracer.span(Read)(inner.readVersionRange(table, version, column, lower, upper))
  override def statsUpperBound(table: String, version: Long, column: String): Option[Any] =
    tracer.span(Version)(inner.statsUpperBound(table, version, column))
  override def currentVersion(table: String): Long =
    tracer.span(Version)(inner.currentVersion(table))
  override def tryCommit(table: String, df: DataFrame, expectedBase: Long): Long =
    tracer.span(Commit)(inner.tryCommit(table, df, expectedBase))
  override def overwrite(table: String, df: DataFrame): Unit =
    tracer.span(Commit)(inner.overwrite(table, df))
  override def tryAppend(table: String, delta: DataFrame, ontoVersion: Long,
      expectedBase: Long): Long =
    tracer.span(Commit)(inner.tryAppend(table, delta, ontoVersion, expectedBase))
  override def tryDeleteRows(table: String, keys: DataFrame, ontoVersion: Long,
      expectedBase: Long): Long =
    tracer.span(Commit)(inner.tryDeleteRows(table, keys, ontoVersion, expectedBase))
}

object TracingFormat {
  val Read = "etl.read"
  val Version = "etl.version"
  val Commit = "etl.commit"

  trait ForwardIncremental extends IncrementalRead { self: TracingFormat =>
    override def changesBetween(table: String, fromVersion: Long, toVersion: Long): ChangeSet =
      tracer.span(Read)(inner.asInstanceOf[IncrementalRead]
        .changesBetween(table, fromVersion, toVersion))
  }

  trait ForwardVacuum extends Vacuumable { self: TracingFormat =>
    override def vacuum(table: String, retainFrom: Long, olderThanMs: Long): VacuumStats =
      tracer.span(Commit)(inner.asInstanceOf[Vacuumable]
        .vacuum(table, retainFrom, olderThanMs))
  }

  def wrap(inner: TableFormat, tracer: Tracer): TracingFormat = inner match {
    case _: IncrementalRead with Vacuumable =>
      new TracingFormat(inner, tracer) with ForwardIncremental with ForwardVacuum
    case _: IncrementalRead => new TracingFormat(inner, tracer) with ForwardIncremental
    case _: Vacuumable => new TracingFormat(inner, tracer) with ForwardVacuum
    case _ => new TracingFormat(inner, tracer)
  }

  /** The backend parameter `DailyEtl.run` / `CorpusEtl.runBatch` take. */
  def backend(base: TableFormat.Backend, tracer: Tracer): TableFormat.Backend =
    (spark: SparkSession, root: String) => wrap(base(spark, root), tracer)
}

/** Delegating fetcher: a span per fetch, plus the bytes fetched. */
final class TracingFetcher(inner: Sources.Fetcher, tracer: Tracer) extends Sources.Fetcher {
  @volatile var bytes = 0L

  override def fetch(url: String, bearerToken: Option[String]): Sources.Fetched =
    tracer.span(TracingFetcher.Fetch) {
      val r = inner.fetch(url, bearerToken)
      bytes += (r match {
        case Sources.Html(b) => b.getBytes("UTF-8").length
        case Sources.Json(b) => b.getBytes("UTF-8").length
      })
      r
    }
}

object TracingFetcher {
  val Fetch = "ingest.fetch"
}
