package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole suite — built WITH GraftExtensions so
  * every spec runs under the injected functions + optimizer rule (which
  * must be semantics-preserving; ExtensionsSpec asserts they fire). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder(4).appName("graft-test").getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
