package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Writes the expected-digest table from a `graft.Verify` dump of the
  * snapshot, after `tools/oracle_check.py` has passed that dump against
  * DuckDB. Each digest is taken from the dumped rows and must equal the
  * digest of the query run live in this session; any disagreement
  * fails the run and writes nothing. */
object Establish {
  def run(spark: SparkSession, args: Args, dump: String): Unit = {
    val names = Metrics.ChartQueries
    val rows = names.map { n =>
      val dumped = Digest.of(spark.read.parquet(s"$dump/$n"))
      val live = Digest.of(SparkEntry.queries(n)(spark, args.data))
      require(dumped == live, s"$n: dump digest $dumped != live digest $live")
      s"$n\t$live"
    }
    val out = Paths.get(args.expected)
    val tmp = out.resolveSibling(out.getFileName.toString + ".tmp")
    Files.write(tmp, rows.mkString(
      "# query\tsha256 of the result rows in order (see Digest.scala)\n", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, out, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    System.err.println(s"[perfbench] wrote ${rows.length} digests to ${args.expected}")
  }
}
