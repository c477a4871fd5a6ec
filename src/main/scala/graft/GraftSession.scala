package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every graft entry point builds on. */
object GraftSession {

  /** A `local[cpus]` builder under graft's own rules and settings:
    *   - GraftExtensions (the library's functions and optimizer rules);
    *   - shuffle partitions = cpus;
    *   - UTC session time zone;
    *   - both timestamp configs — the testdata generations store
    *     timestamps either as TIMESTAMP(NANOS) (read as a long, which
    *     `Tables.events` converts) or as TIMESTAMP(MICROS,
    *     isAdjustedToUTC=false), which must read as TIMESTAMP, not NTZ;
    *   - 4 MB splits: multi-file tables split file-per-task instead of
    *     packing back into one split (the 128 MB default collapses a
    *     32-file table into ONE scan task, serializing every scan-bound
    *     per-row kernel — m04 measured 19x instead of ~4x at sf1.0);
    *   - UI off.
    * A caller that needs a different value sets it on the returned
    * builder. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.ui.enabled", "false")

  /** The core count from SPARK_GRAFT_CPUS (default 32; `*` = this
    * machine's processors). Anything else but a positive integer fails
    * loudly: the count also names output files. */
  def envCpus(): Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") match {
    case "*" => Runtime.getRuntime.availableProcessors()
    case v => v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS='$v' is not a positive integer or *"))
  }
}
