package perfbench

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** What one op reports besides its wall time: whether its result check
  * passed, the digest it computed, and layer timings taken inside it. */
final case class Outcome(ok: Boolean, rows: Long, digest: String,
    layers: Map[String, Double] = Map.empty, df: Option[DataFrame] = None)

/** One operation of a workload: build, then compute fully. */
trait Op {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Per-op services: phase tagging for the tracer and build timing. */
final class Ctx(val spark: SparkSession, val data: String, val traced: Boolean) {
  var buildS = 0.0
  private def phase[T](p: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Tracer.PhaseKey, p)
    try body finally spark.sparkContext.setLocalProperty(Tracer.PhaseKey, null)
  }
  /** Build the op (everything up to the DataFrame); timed as build_s. */
  def build[T](body: => T): T = {
    val t0 = System.nanoTime()
    try phase("build")(body) finally buildS += (System.nanoTime() - t0) / 1e9
  }
  def compute[T](body: => T): T = phase("compute")(body)
}

/** A registered graft query: `SparkEntry.queries(name)(spark, dataDir)`,
  * every output column computed and digested, checked against the row
  * count and digest stored with the benchmark. */
final class QueryOp(val name: String, fn: (SparkSession, String) => DataFrame,
    expected: Option[(Long, String)]) extends Op {
  def run(ctx: Ctx): Outcome = {
    val df = ctx.build(fn(ctx.spark, ctx.data))
    val d = ctx.compute(Digest.of(df))
    Outcome(expected.contains((d.rows, d.hex)), d.rows, d.hex, df = Some(df))
  }
}

/** A workload: what set-up does once per session, and each pass's ops
  * in the order the seeded generator gives them. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def pass(rng: scala.util.Random): Seq[Op]
  /** Run-level facts recorded after the last pass. */
  def finish(spark: SparkSession): Map[String, Any] = Map.empty
}

final class QueryWorkload(names: Seq[String], expected: Map[String, (Long, String)])
    extends Workload {
  private val ops = names.map { n =>
    val fn = graft.SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"not a registered query: $n"))
    new QueryOp(n, fn, expected.get(n))
  }
  def setup(spark: SparkSession): Unit = ()
  def pass(rng: scala.util.Random): Seq[Op] = rng.shuffle(ops)
}

object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, cores: Int, ops: Seq[String],
      expected: Map[String, (Long, String)])

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val expected = kv.get("expected").filter(p => Files.exists(Paths.get(p))).map { p =>
      scala.io.Source.fromFile(p).getLines().filter(_.nonEmpty).map { l =>
        val Array(n, rows, hex) = l.split("\t"); n -> (rows.toLong, hex)
      }.toMap
    }.getOrElse(Map.empty)
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"), need("cores").toInt,
      kv.get("ops").toSeq.flatMap(_.split(",")).filter(_.nonEmpty), expected)
  }

  def session(c: Conf): SparkSession = SparkSession.builder()
    .master(s"local[${c.cores}]")
    .appName("graft-perfbench")
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.shuffle.partitions", c.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${c.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
    .getOrCreate()

  private val Setups = 5
  private val MinWarmPasses = 2

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadavg(): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim).getOrElse("")

  /** graft.Bench's scan- and shuffle-bound calibration jobs, at a quarter
    * of their row counts (same partitions and keys), plus the load
    * average: context for comparing runs, not a metric. They run on a
    * warm JVM, right before and after the warm passes. */
  private def calibration(spark: SparkSession): Map[String, Any] = {
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; secs(t0) }
    val scan = timed(spark.range(0L, 50000000L, 1L, 32)
      .selectExpr("sum(id * 2654435761L % 1000003)").collect())
    val shuffle = timed(spark.range(0L, 2000000L, 1L, 32)
      .selectExpr("id % 100000 as k").groupBy("k").count()
      .selectExpr("sum(count)").collect())
    Map("scan_s" -> scan, "shuffle_s" -> shuffle, "loadavg" -> loadavg())
  }

  /** Regular files under `root`, and their total bytes. */
  def treeSize(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      (files.length.toLong, files.map(Files.size).sum)
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val loadavgStart = loadavg()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload: Workload = c.workload match {
      case "versioned_writes" => new VersionedWrites(c.seed, c.data, s"${c.work}/tables")
      case _ => new QueryWorkload(c.ops, c.expected)
    }

    // Set-up, several times: session start, catalog loads, a warm-up job
    // and the workload's set-up. The first one also pays JVM start; the
    // median is reported.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    // PlanCache counters from the start of the last set-up: its catalog
    // loads are the misses, the cold pass's lookups the hits.
    var pc0 = (0L, 0L)
    for (i <- 1 to Setups) {
      pc0 = (graft.PlanCache.hits, graft.PlanCache.misses)
      val t0 = System.nanoTime()
      val jvmLead = if (i == 1) (System.currentTimeMillis() - jvmStart) / 1000.0 else 0.0
      spark = session(c)
      spark.sparkContext.setLogLevel("WARN")
      graft.Tables.names.foreach(graft.Tables.load(spark, c.data, _))
      // One small scan-and-shuffle job, so the cold pass measures graft's
      // first calls rather than the first job of the JVM.
      spark.range(0L, 100000L, 1L, c.cores).selectExpr("id % 16 as k").groupBy("k").count()
        .collect()
      workload.setup(spark)
      setupTimes += jvmLead + secs(t0)
      if (i < Setups) { graft.PlanCache.invalidate(spark); spark.stop() }
    }
    val sc = spark.sparkContext
    val timeline = mutable.LinkedHashMap.empty[String, Double]
    def mark(k: String): Unit = timeline(k) = (System.currentTimeMillis() - jvmStart) / 1000.0
    mark("setup_end")

    val tracer = new Tracer
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(phase: String, pass: Int, traced: Boolean): (Double, Int) = {
      if (traced) sc.addSparkListener(tracer)
      val rng = new scala.util.Random(c.seed * 1000003L + pass)
      val t0 = System.nanoTime()
      val ops = workload.pass(rng)
      ops.zipWithIndex.foreach { case (op, idx) =>
        val tag = s"$phase/$pass/$idx/${op.name}"
        val ctx = new Ctx(spark, c.data, traced)
        sc.setLocalProperty(Tracer.TagKey, tag)
        val o0 = System.nanoTime()
        val res = try Right(op.run(ctx)) catch { case NonFatal(e) => Left(e) }
        val latency = secs(o0)
        sc.setLocalProperty(Tracer.TagKey, null)
        val base = Map[String, Any]("name" -> op.name, "phase" -> phase, "pass" -> pass,
          "traced" -> traced, "build_s" -> ctx.buildS)
        records += (res match {
          case Left(e) =>
            System.err.println(s"[perfbench] ${op.name} threw: $e")
            base ++ Map("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
          case Right(o) =>
            if (!o.ok) System.err.println(s"[perfbench] ${op.name} result check failed " +
              s"(rows=${o.rows} digest=${o.digest})")
            val trace = if (!traced) Map.empty[String, Any] else traceOf(tracer, sc, tag, o)
            base ++ Map("ok" -> o.ok, "latency_s" -> latency, "rows" -> o.rows,
              "digest" -> o.digest) ++ o.layers ++ trace
        })
      }
      if (traced) sc.removeSparkListener(tracer)
      (secs(t0), ops.size)
    }

    val (coldS, coldOps) = runPass("cold", 0, c.trace)
    val pc1 = (graft.PlanCache.hits, graft.PlanCache.misses)
    mark("cold_end")
    val calibPre = calibration(spark)
    mark("calibration_pre_end")
    // Warm passes: whole passes for about `seconds`, and at least two. A
    // further pass starts only if, at the mean pass time so far, it ends
    // less than half a pass after `seconds`, so the warm phase lasts
    // `seconds` on average. A traced run alternates traced and untraced
    // passes, so the tracing overhead is measured within one run.
    val warmPasses = mutable.ArrayBuffer.empty[Map[String, Any]]
    val w0 = System.nanoTime()
    var pass = 1
    while (pass <= MinWarmPasses || secs(w0) * (pass - 0.5) / (pass - 1) < c.seconds) {
      val traced = c.trace && pass % 2 == 1
      val (s, n) = runPass("warm", pass, traced)
      warmPasses += Map("pass" -> pass, "seconds" -> s, "ops" -> n, "traced" -> traced)
      pass += 1
    }
    mark("warm_end")
    val calibPost = calibration(spark)
    mark("calibration_post_end")

    val finish = workload.finish(spark)
    val (exportFiles, exportBytes) =
      sys.env.get("GRAFT_EXPORT_ROOT").map(treeSize).getOrElse((0L, 0L))
    val persisted = sc.getPersistentRDDs.size
    val storageMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    mark("finish_end")

    val run = Map[String, Any](
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> c.cores,
      "setup_s" -> setupTimes,
      "cold_s" -> coldS, "cold_ops" -> coldOps, "warm_passes" -> warmPasses,
      "loadavg_start" -> loadavgStart,
      "calibration_pre" -> calibPre, "calibration_post" -> calibPost,
      "plancache_setup_cold" -> Map("hits" -> (pc1._1 - pc0._1), "misses" -> (pc1._2 - pc0._2)),
      "export_files" -> exportFiles, "export_bytes" -> exportBytes,
      "persisted_rdds_end" -> persisted, "storage_mb_end" -> storageMb,
      "retained_heap_mb" -> heapMb, "timeline_s" -> timeline) ++ finish
    spark.stop()
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(new java.io.File(c.out), Map("run" -> run, "ops" -> records))
  }

  /** Tracer counters and Catalyst phase times of one traced op. */
  private def traceOf(tracer: Tracer, sc: org.apache.spark.SparkContext, tag: String,
      o: Outcome): Map[String, Any] = {
    val phases = o.df.map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
    def phase(p: String) = phases.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    val s = tracer.get(sc, tag).getOrElse(new tracer.Stats)
    Map("analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "jobs" -> s.jobs, "build_jobs" -> s.buildJobs, "stages" -> s.stages,
      "tasks" -> s.tasks, "exec_s" -> s.jobWallMs / 1000.0, "run_s" -> s.runMs / 1000.0,
      "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1000.0,
      "shuffle_write_mb" -> s.shuffleWrite / 1048576.0,
      "shuffle_read_mb" -> s.shuffleRead / 1048576.0, "spill_mb" -> s.spill / 1048576.0,
      "task_skew" -> s.skew, "records_in" -> s.recordsIn,
      "output_mb" -> s.bytesOut / 1048576.0)
  }
}
