package graft.io

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated synthetic testdata (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Explicit-by-construction:
  * parquet carries the schema; we never infer CSV/JSON schemas anywhere
  * in this engine (mirrors the reference's fixed DDL stance,
  * reference `db/sql/create_schema_structure.sql:19-70`).
  *
  * Scale notes (100 TB design): at cluster scale these would be
  * partitioned-by-date facts (`orders`, `lineitem`, `events`) and
  * broadcast-able dims (`region`, `nation`, `customer`, `supplier`,
  * `part`). All downstream operators in [[graft.queries]] are written so
  * the date filters and column prunes reach the scan (verified via
  * `.explain` — see PLANS.md).
  *
  * Schema resolution: a bare `spark.read.parquet` infers the schema
  * from the parquet footers, and that inference is one Spark job per
  * call — the dominant build cost of a light query, since every query
  * reads its base tables afresh. So each table path's schema is
  * resolved ONCE and every later read passes it with `.schema(...)`,
  * which launches no job. The cache key is the qualified path plus the
  * (relative path, length, modification time) of every leaf file under
  * it: a file rewritten in place, or a table directory overwritten at
  * the same path (e.g. `events.parquet` regenerated under the other
  * `ts` encoding), no longer matches and re-infers; one entry per path
  * is kept, so an overwritten snapshot does not accumulate entries.
  * The cache is JVM-wide and thread-safe (`Stages` reads tables from
  * several threads; each path infers at most once per stamp). There is
  * deliberately no option to turn it off: the stamp makes a cached
  * schema exactly as fresh as a re-inferred one, so a second,
  * uncached code path would only be a slower copy of this one.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every query path flows through here: install the engine's
    // planner strategy + top-k rewrite on sessions built without
    // GraftExtensions (the driver's Verify/Bench sessions)
    graft.plans.TopK.install(spark)
    if (name == "events") rawEvents(spark, sfDir) match {
      case (df, true)  => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case (df, false) => df.withColumn("ts", col("ts").cast(TimestampType))
    } else read(spark, s"$sfDir/$name.parquet")
  }

  /** One table path's resolved schema, valid while its leaf files
    * match `stamp`; inferred on first use, under the holder's lock so
    * concurrent first readers infer once and agree. */
  private final class Resolved(val stamp: Seq[(String, Long, Long)]) {
    private var schema: StructType = _
    def get(infer: => StructType): StructType = synchronized {
      if (schema == null) schema = infer
      schema
    }
  }
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** The parquet schema at `path`, inferred once per leaf-file stamp. A
    * missing path stamps empty and re-infers every call, so it fails
    * exactly as a bare `spark.read.parquet` would. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    val stamp = leafStamp(fs, root)
    resolved.compute(root.toString, (_, old) =>
      if (old != null && old.stamp == stamp) old else new Resolved(stamp))
      .get(spark.read.parquet(path).schema)
  }

  private def leafStamp(fs: FileSystem, root: Path): Seq[(String, Long, Long)] = {
    val rootPath = root.toUri.getPath
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toUri.getPath.stripPrefix(rootPath),
        st.getLen, st.getModificationTime))
    try walk(fs.getFileStatus(root)).sorted
    catch { case _: FileNotFoundException => Nil }
  }

  /** Regeneration tripwire (round-5 postmortem): the observed on-disk
    * encoding of `events.ts` for this snapshot, as a stable label.
    * Bench and Verify stamp it into their JSON tails so a driver-side
    * testdata regeneration that flips the encoding is visible in the
    * round artifacts instead of silently changing 28 queries. */
  def eventsTsKind(spark: SparkSession, sfDir: String): String =
    eventsSchema(spark, sfDir)("ts").dataType match {
      case LongType => "int64_nanos"
      case t        => t.typeName
    }

  /** events scan + whether `ts` arrived as a raw nanos long.
    *
    * The testdata generator has shipped `events.ts` under two parquet
    * encodings across rounds — TIMESTAMP(NANOS) (which Spark 4 only
    * reads as a bare long under `nanosAsLong`) and native
    * TIMESTAMP(MICROS)/NTZ — so the reader dispatches on the schema the
    * scan actually produces instead of hardwiring either one.
    * Nanos→micros uses integer division (a double roundtrip would lose
    * precision at ~1.7e18 ns); DuckDB truncates the same way, so the
    * oracle compare sees identical instants. The NTZ case is cast to
    * TimestampType (identity under the engine-wide UTC session zone) so
    * every downstream consumer sees one stable `ts` type. The dispatch
    * reads the resolved schema; `nanosAsLong` is set before resolving,
    * since inferring a TIMESTAMP(NANOS) footer without it fails. */
  private def rawEvents(spark: SparkSession, sfDir: String): (DataFrame, Boolean) = {
    val schema = eventsSchema(spark, sfDir)
    (spark.read.schema(schema).parquet(s"$sfDir/events.parquet"),
      schema("ts").dataType == LongType)
  }

  private def eventsSchema(spark: SparkSession, sfDir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaOf(spark, s"$sfDir/events.parquet")
  }

  /** events with a time-range predicate pushed to the parquet scan.
    *
    * Nanos encoding: the converted `ts` is a derived column, so range
    * filters on it can NOT push down — filtering the RAW nanos long
    * first gives the scan a pushable `[from, until)` range, then the
    * conversion runs on the survivors only. Native encoding: filter on
    * a literal of the column's own type (NTZ vs instant) BEFORE the
    * unifying cast, for the same reason. At scale this is the
    * difference between reading a day and reading the table. */
  def eventsBetween(spark: SparkSession, sfDir: String, fromIso: String, untilIso: String): DataFrame = {
    val from = java.time.Instant.parse(fromIso)
    val until = java.time.Instant.parse(untilIso)
    rawEvents(spark, sfDir) match {
      case (df, true) =>
        def ns(i: java.time.Instant) = i.getEpochSecond * 1000000000L
        df.where(col("ts") >= ns(from) && col("ts") < ns(until))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case (df, false) =>
        def tsLit(i: java.time.Instant): Column = df.schema("ts").dataType match {
          case TimestampNTZType => lit(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
          case _                => lit(i)
        }
        df.where(col("ts") >= tsLit(from) && col("ts") < tsLit(until))
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Register every testdata table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
