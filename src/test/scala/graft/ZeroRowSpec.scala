package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Registered queries over zero-row copies of the tables they read: a
  * query must return a well-defined answer on empty input, not throw. */
class ZeroRowSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("g01 and t20 return zero rows on zero-row events and documents") {
    val dir = Files.createTempDirectory("graft-zero-rows").toFile
    try {
      for (t <- Seq("events", "documents")) {
        val src = spark.read.parquet(s"${TestSpark.sf}/$t.parquet")
        src.limit(0).write.parquet(s"$dir/$t.parquet")
        assert(spark.read.parquet(s"$dir/$t.parquet").schema.fieldNames.toSeq ==
          src.schema.fieldNames.toSeq)
      }
      for (q <- Seq("g01_pagerank", "t20_textrank"))
        assert(SparkEntry.queries(q)(spark, dir.toString).collect().isEmpty, q)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
