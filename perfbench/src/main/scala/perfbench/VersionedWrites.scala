package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.sources.Versioned
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.collection.mutable

/** A row of the table the `versioned_writes` workload writes. */
final case class VRow(id: Long, grp: Int, amount: Double, tag: String)

/** The only workload that writes: seeded batch appends, a `Dml.merge`
  * published with `commitReplace`, latest and as-of reads, `optimize`,
  * and an IVF `Ddl.createIndex` followed by `probeIndex` calls.
  *
  * Every pass starts a fresh table from the same number of base rows, so
  * each pass does the same work whatever `--seconds` and the program's
  * speed are, and the table left at the end has a fixed version count.
  *
  * The benchmark keeps its own model of the table (the live rows, and
  * the row count and digest of every committed version), so every read
  * is checked against what was written, independently of graft. */
final class VersionedWrites(seed: Long, data: String, root: String) extends Workload {
  private val BaseRows = 40000
  private val AppendRows = 2000
  private val MergeRows = 1000
  /** Rounds of writes, reads and probes per table (and so per pass). */
  private val Rounds = 3
  private val Index = "perfbench_ivf"

  private var path = ""
  private var tables = 0
  private val rowRng = new scala.util.Random(seed)
  private var nextId = 0L
  private var batch = 0L
  private val live = mutable.LinkedHashMap.empty[Long, VRow]
  private var liveSum = 0L
  private val versions = mutable.HashMap.empty[Long, (Long, Long)]
  private var current = 0L
  private var vectors = Map.empty[Long, Array[Float]]

  private def hash(r: VRow): Long = Digest.combine(Iterator(   // column-name order
    Digest.ofDouble(r.amount), Digest.ofLong(r.grp.toLong), Digest.ofLong(r.id),
    Digest.ofString(r.tag)))

  /** Row values are a hash of (id, seed, batch): Spark generates a batch
    * from its ids alone, and the model computes the same rows. */
  private def batchKey(b: Long): Long = seed * 1000003L + b

  private def rowOf(id: Long, b: Long): VRow = {
    val xx = XxHash64Function
    val h = xx.hash(batchKey(b), LongType, xx.hash(id, LongType, 42L))
    VRow(id, Math.floorMod(h, 50L).toInt, Math.floorMod(h >> 8, 100000L).toDouble / 100,
      s"t${Math.floorMod(h >> 24, 100L)}")
  }

  /** The rows of batch `b` for the ids in column `id` of `ids`. */
  private def frameOf(ids: DataFrame, b: Long): DataFrame = {
    val h = xxhash64(col("id"), lit(batchKey(b)))
    ids.select(col("id"), pmod(h, lit(50L)).cast("int").as("grp"),
      (pmod(shiftright(h, 8), lit(100000L)).cast("double") / 100).as("amount"),
      concat(lit("t"), pmod(shiftright(h, 24), lit(100L)).cast("string")).as("tag"))
  }

  /** The next batch: `n` new ids, or fresh values for `existing` ids. */
  private def nextBatch(spark: SparkSession, n: Int,
      existing: Seq[Long] = Nil): (DataFrame, Seq[VRow]) = {
    batch += 1
    val ids = existing ++ (nextId until nextId + n)
    nextId += n
    import spark.implicits._
    val df = if (existing.isEmpty) spark.range(ids.head, ids.head + n).toDF()
      else ids.toDF("id")
    (frameOf(df, batch), ids.map(rowOf(_, batch)))
  }

  private def put(r: VRow): Unit = {
    live.get(r.id).foreach(old => liveSum -= hash(old))
    live(r.id) = r; liveSum += hash(r)
  }

  private def committed(v: Long): Boolean = {
    val ok = v == current + 1
    current = v; versions(v) = (live.size.toLong, liveSum); ok
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def setup(spark: SparkSession): Unit = {
    vectors = graft.Tables.embeddings(spark, data).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  }

  /** Drop the previous pass's table and start the model of a new one. */
  private def newTable(): Unit = {
    if (path.nonEmpty) deleteTree(Paths.get(path))
    tables += 1
    path = s"$root/t$tables"
    nextId = 0L; live.clear(); liveSum = 0L; versions.clear(); current = 0L
  }

  private abstract class VOp(val name: String) extends Op

  /** Stage `df` in a new transaction and commit it; times both steps. */
  private def write(ctx: Ctx, df: DataFrame, replace: Boolean): (Long, Map[String, Double]) = {
    val txn = Versioned.begin(ctx.spark, path)
    val (_, stageS) = timed(Versioned.stage(txn, df))
    val (v, commitS) = timed(
      if (replace) Versioned.commitReplace(ctx.spark, txn)
      else Versioned.commitAppend(ctx.spark, txn))
    val files = if (!ctx.traced) Map.empty[String, Double] else {
      val (n, bytes) = Main.treeSize(txn.stagingDir)
      Map("files_written" -> n.toDouble, "bytes_written_mb" -> bytes / 1048576.0)
    }
    (v, Map("stage_s" -> stageS, "commit_s" -> commitS) ++ files)
  }

  private def create = new VOp("create") {
    def run(ctx: Ctx): Outcome = {
      val (df, rows) = ctx.build(nextBatch(ctx.spark, BaseRows))
      val v = ctx.compute(Versioned.create(ctx.spark, path, df))
      rows.foreach(put)
      Outcome(committed(v), rows.size.toLong, "")
    }
  }

  private def append = new VOp("append") {
    def run(ctx: Ctx): Outcome = {
      val (df, rows) = ctx.build(nextBatch(ctx.spark, AppendRows))
      val (v, layers) = ctx.compute(write(ctx, df, replace = false))
      rows.foreach(put)
      Outcome(committed(v), rows.size.toLong, "", layers)
    }
  }

  private def merge = new VOp("merge") {
    def run(ctx: Ctx): Outcome = {
      val ids = live.keysIterator.toIndexedSeq
      val picked = mutable.LinkedHashSet.empty[Int]
      while (picked.size < MergeRows / 2) picked += rowRng.nextInt(ids.size)
      val (upd, updates) = nextBatch(ctx.spark, MergeRows / 2, picked.toSeq.map(ids))
      val df = ctx.build(graft.operators.Dml.merge(Versioned.read(ctx.spark, path), upd, "id"))
      val (v, layers) = ctx.compute(write(ctx, df, replace = true))
      updates.foreach(put)
      Outcome(committed(v), updates.size.toLong, "", layers)
    }
  }

  private def read(asOf: Option[Double]) =
      new VOp(if (asOf.isEmpty) "read_latest" else "read_as_of") {
    def run(ctx: Ctx): Outcome = {
      val v = asOf.fold(current)(f => 1 + math.floor(f * current).toLong.min(current - 1))
      val df = ctx.build(Versioned.readAsOf(ctx.spark, path, v))
      val d = ctx.compute(Digest.of(df))
      Outcome(versions.get(v).contains((d.rows, d.sum)), d.rows, d.hex, df = Some(df))
    }
  }

  private def optimize = new VOp("optimize") {
    def run(ctx: Ctx): Outcome = {
      val v = ctx.compute(Versioned.optimize(ctx.spark, path))
      Outcome(v.exists(committed), live.size.toLong, "")
    }
  }

  private def createIndex = new VOp("create_index") {
    def run(ctx: Ctx): Outcome = {
      val vecs = ctx.build(graft.Tables.embeddings(ctx.spark, data)
        .select(col("vec_id"), col("embedding")))
      val (d, s) = timed(ctx.compute(
        graft.Ddl.createIndex(ctx.spark, Index, vecs, "ivf", s"$root/ivf", k = 16)))
      val ok = d match {
        case graft.Ddl.IvfIndexDef(_, _, cents) => cents.length == 16
        case _ => false
      }
      Outcome(ok, 16L, "", Map("index_build_s" -> s))
    }
  }

  /** Top-10 probe with a stored vector as the query: the vector itself
    * must come back first, every similarity must equal the exact cosine
    * (to 1e-4), and the rows must be in descending similarity order. */
  private def probe(qid: Long) = new VOp("probe") {
    def run(ctx: Ctx): Outcome = {
      val q = vectors(qid)
      val df = ctx.build(graft.Ddl.probeIndex(ctx.spark, Index, q, k = 10, nProbe = 4))
      val rows = ctx.compute(df.collect()).map(r => (r.getLong(0), r.getDouble(1)))
      def cos(v: Array[Float]) = {
        val dot = v.indices.map(i => v(i).toDouble * q(i)).sum
        dot / math.sqrt(v.map(x => x.toDouble * x).sum * q.map(x => x.toDouble * x).sum)
      }
      val ok = rows.length == 10 && rows.head._1 == qid &&
        rows.forall { case (id, s) => math.abs(s - cos(vectors(id))) < 1e-4 } &&
        rows.sliding(2).forall(p => p(0)._2 >= p(1)._2)
      val files = PlanScans.filesRead(df)
      Outcome(ok, rows.length.toLong, "", Map("probe_files_read" -> files.toDouble), Some(df))
    }
  }

  def pass(rng: scala.util.Random): Seq[Op] = {
    newTable()
    val ids = vectors.keys.toIndexedSeq.sorted
    def round = rng.shuffle(Seq.fill(2)(append) ++ Seq(merge, optimize, read(None),
      read(Some(rng.nextDouble()))) ++ Seq.fill(2)(probe(ids(rng.nextInt(ids.size)))))
    Seq(create, createIndex) ++ Seq.fill(Rounds)(round).flatten
  }

  override def finish(spark: SparkSession): Map[String, Any] = {
    val plain = s"$root/plain"
    Versioned.read(spark, path).coalesce(1).write.parquet(plain)
    val (_, tableBytes) = Main.treeSize(path)
    val (_, plainBytes) = Main.treeSize(plain)
    deleteTree(Paths.get(plain))
    Map("table_bytes" -> tableBytes, "plain_bytes" -> plainBytes, "versions" -> current,
      "live_rows" -> live.size,
      "storage_bytes_per_user_byte" -> tableBytes.toDouble / plainBytes)
  }
}
