package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Tables

/** The events reader must survive BOTH parquet encodings the testdata
  * generator has shipped for `events.ts` across rounds:
  *
  *  - TIMESTAMP(NANOS), which Spark 4 only reads as a bare long under
  *    `spark.sql.legacy.parquet.nanosAsLong` (modeled here by a plain
  *    int64 `ts` column — identical from the reader's point of view);
  *  - native TIMESTAMP(MICROS)/NTZ (what `timestamp[us]` pandas
  *    parquet produces).
  *
  * Round 5 died because the reader hardwired the first encoding; this
  * spec pins the schema dispatch so a future regeneration can't
  * silently break either path again. Both encodings must produce the
  * SAME TimestampType rows, and `eventsBetween` must push its range
  * to the parquet scan in BOTH modes (raw-nanos longs vs native
  * timestamp literals) — at 100 TB the pushdown is the difference
  * between reading a day and reading the table.
  *
  * It also pins the reader's schema cache: a table's schema is
  * inferred once per leaf-file stamp (inference is a Spark job), an
  * overwrite at the same path re-infers, and concurrent first reads
  * infer once and agree. */
class EventsEncodingSpec extends SparkSpec {

  private val base = Files.createTempDirectory("graft-events-enc").toString
  private val nanosDir = s"$base/nanos"
  private val microsDir = s"$base/micros"

  private def fixture: DataFrame = {
    import spark.implicits._
    val instants = Seq(
      "2024-03-01T00:00:00Z", "2024-03-01T12:30:00Z",
      "2024-03-02T00:00:00Z", "2024-03-03T06:00:00Z")
    val rows = instants.zipWithIndex.map { case (iso, i) =>
      (i.toLong, java.time.Instant.parse(iso), i.toLong % 2,
        s"type_$i", i * 1.5, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  // nanos-as-long encoding: the instant as an epoch-nanos int64
  private def writeNanos(dir: String): Unit =
    fixture.withColumn("ts", unix_micros(col("ts")) * 1000)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  // native encoding: TIMESTAMP_NTZ micros, like the pandas testdata
  private def writeMicros(dir: String): Unit =
    fixture.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  writeNanos(nanosDir)
  writeMicros(microsDir)

  private val expectedTs = Seq(
    0L -> "2024-03-01 00:00:00", 1L -> "2024-03-01 12:30:00",
    2L -> "2024-03-02 00:00:00", 3L -> "2024-03-03 06:00:00")

  /** `f`'s result and the Spark jobs it launched (on this thread and
    * on threads it starts), counted by a SparkListener. Listener events
    * arrive in order, so once a flush job's start is seen every earlier
    * job start has been counted. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"events-enc-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val result = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never flushed")
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def tsRows(df: DataFrame): Seq[(Long, String)] =
    df.select(col("event_id"), col("ts").cast("string"))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)

  test("Tables.table dispatches on the observed schema: both encodings yield identical TimestampType rows") {
    val fromNanos = Tables.table(spark, nanosDir, "events")
    val fromMicros = Tables.table(spark, microsDir, "events")
    assert(fromNanos.schema("ts").dataType.typeName == "timestamp", fromNanos.schema)
    assert(fromMicros.schema("ts").dataType.typeName == "timestamp", fromMicros.schema)
    assert(tsRows(fromNanos) == expectedTs)
    assert(tsRows(fromMicros) == expectedTs)
  }

  test("eventsBetween filters identically and pushes the range to the scan in both encodings") {
    val from = "2024-03-01T12:00:00Z"
    val until = "2024-03-03T00:00:00Z"
    Seq(nanosDir, microsDir).foreach { dir =>
      val df = Tables.eventsBetween(spark, dir, from, until)
      assert(tsRows(df) == Seq(
        1L -> "2024-03-01 12:30:00", 2L -> "2024-03-02 00:00:00"), dir)
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("GreaterThanOrEqual(ts"), s"$dir range not pushed:\n$plan")
      assert(plan.contains("LessThan(ts"), s"$dir range not pushed:\n$plan")
    }
  }

  test("a second Tables.table on an unchanged snapshot launches no Spark job") {
    val dir = s"$base/unchanged"
    fixture.select("event_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    writeMicros(dir)
    Seq("region", "events").foreach { name =>
      val (_, first) = jobsDuring(Tables.table(spark, dir, name))
      assert(first >= 1, s"$name: the first read infers the schema with a job")
      val (df, second) = jobsDuring(Tables.table(spark, dir, name))
      assert(second == 0, s"$name: a cached schema launched $second jobs")
      assert(df.count() == 4)
    }
  }

  test("overwriting events.parquet at the same path re-resolves its ts encoding") {
    val dir = s"$base/swap"
    writeNanos(dir)
    assert(Tables.eventsTsKind(spark, dir) == "int64_nanos")
    assert(tsRows(Tables.table(spark, dir, "events")) == expectedTs)
    writeMicros(dir)
    assert(Tables.eventsTsKind(spark, dir) == "timestamp_ntz")
    val swapped = Tables.table(spark, dir, "events")
    assert(swapped.schema("ts").dataType.typeName == "timestamp", swapped.schema)
    assert(tsRows(swapped) == expectedTs)
  }

  test("eventsTsKind reports both encodings from the resolved schema, with no extra read") {
    Seq(nanosDir -> "int64_nanos", microsDir -> "timestamp_ntz").foreach { case (dir, kind) =>
      Tables.table(spark, dir, "events")
      assert(jobsDuring(Tables.eventsTsKind(spark, dir)) == (kind -> 0), dir)
    }
  }

  test("concurrent first resolves of one table infer once and agree") {
    val dir = s"$base/concurrent"
    writeNanos(dir)
    val threads = 8
    val (schemas, jobs) = jobsDuring {
      val pool = Executors.newFixedThreadPool(threads)
      val start = new CountDownLatch(1)
      try {
        val futures = (1 to threads).map { _ =>
          pool.submit(new Callable[(StructType, String)] {
            def call(): (StructType, String) = {
              start.await()
              (Tables.table(spark, dir, "events").schema, Tables.eventsTsKind(spark, dir))
            }
          })
        }
        start.countDown()
        futures.map(_.get(120, TimeUnit.SECONDS))
      } finally pool.shutdown()
    }
    assert(schemas.distinct.size == 1, schemas.distinct)
    assert(schemas.head._2 == "int64_nanos")
    assert(jobs == 1, s"$threads concurrent first reads ran $jobs inference jobs")
    assert(tsRows(Tables.table(spark, dir, "events")) == expectedTs)
  }
}
