package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark harness (see `perfbench/run.py`, which
  * builds the harness and launches it):
  *
  * {{{
  * Main --workload <chart_queries|nightly_etl> --seed <n>
  *      --seconds <s> --trace <0|1> --data <snapshot dir> --work <scratch dir>
  *      --spans <dir> --expected <expected_digests.tsv>
  * Main --establish <verify dump dir> --data <snapshot dir> --work <dir>
  *      --expected <file to write>
  * }}}
  *
  * The last line of standard output is the result object. */
final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 10,
    trace: Boolean = false,
    data: String = "",
    work: String = "",
    spans: String = "",
    expected: String = "",
    establish: Option[String] = None)

object Args {
  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case Seq("--workload", v, rest @ _*) => parse(rest).copy(workload = v)
    case Seq("--seed", v, rest @ _*) => parse(rest).copy(seed = v.toLong)
    case Seq("--seconds", v, rest @ _*) => parse(rest).copy(seconds = v.toInt)
    case Seq("--trace", v, rest @ _*) => parse(rest).copy(trace = v == "1")
    case Seq("--data", v, rest @ _*) => parse(rest).copy(data = v)
    case Seq("--work", v, rest @ _*) => parse(rest).copy(work = v)
    case Seq("--spans", v, rest @ _*) => parse(rest).copy(spans = v)
    case Seq("--expected", v, rest @ _*) => parse(rest).copy(expected = v)
    case Seq("--establish", v, rest @ _*) => parse(rest).copy(establish = Some(v))
    case other => throw new IllegalArgumentException(s"unknown argument ${other.head}")
  }
}

object Main {
  val Cores = 4

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = Args.parse(argv.toSeq)
    require(args.data.nonEmpty && args.work.nonEmpty && args.expected.nonEmpty,
      "--data, --work and --expected are required")
    Files.createDirectories(Paths.get(args.work))
    val spark = session()
    try args.establish match {
      case Some(dump) => Establish.run(spark, args, dump)
      case None =>
        val result = Workloads.run(spark, args, t0)
        println(result.json)
    } finally spark.stop()
  }
}
