package perfbench

import java.nio.file.{Files, Paths}

/** Digest every query result that graft.Verify dumped under a directory
  * (one parquet directory per query), so the benchmark's expected values
  * are the digests of results the DuckDB oracle checked.
  *
  *     DigestDumps <dumpDir> <outTsv>     (lines: name, rows, digest)
  */
object DigestDumps {
  def main(args: Array[String]): Unit = {
    val Array(dumps, out) = args
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    val names = new java.io.File(dumps).listFiles().filter(_.isDirectory).map(_.getName).sorted
    val lines = names.map { n =>
      val d = Digest.of(spark.read.parquet(s"$dumps/$n"))
      s"$n\t${d.rows}\t${d.hex}\n"
    }
    Files.write(Paths.get(out), lines.mkString.getBytes("UTF-8"))
    spark.stop()
  }
}
