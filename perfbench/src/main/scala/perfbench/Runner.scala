package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampNTZType

import graft.Tables

/** One benchmark process: builds a Spark session, runs one workload against
  * the inputs `perfbench/gen.py` wrote under `--work`, checks every op and
  * writes the raw records (ops, checks, spans, jobs, layer samples) to
  * `<work>/result.json`. Statistics are computed by `perfbench/run.py`.
  */
object Runner {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val lake = s"$work/lake"
    val spark = SparkSession.builder()
      .master(s"local[${a("cpus")}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      // As graft.Bench runs the engine: AQE may re-partition cached plans.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Tables.t(spark, lake, a("scan")).collect()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tr = new Tracer(spark.sparkContext, a("trace") == "1")
    val w: Workload = a("workload") match {
      case "replicate" => new Replicate(spark, tr, work)
      case "analyst"   => new Analyst(spark, tr, work)
    }
    w.snapshot()
    w.timed(a("units").toInt)
    Json.write(s"$work/result.json", Map(
      "setup_s" -> setupS,
      "active_s" -> w.activeNs / 1e9,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> w.ops.map(_.record),
      "samples" -> w.samples,
      "spans" -> tr.spanRecords,
      "jobs" -> tr.jobRecords,
      "extra" -> w.extra))
    spark.stop()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(-1.0)
}

final class Op(val id: Int, val name: String, val round: Int, val module: String,
    val traced: Boolean) {
  var ms = 0.0
  var rows = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def fail(why: String): Unit = errors += why
  def record: java.util.Map[String, Any] = Json.obj("id" -> id, "name" -> name,
    "round" -> round, "module" -> module, "traced" -> traced, "ms" -> ms,
    "rows" -> rows, "ok" -> errors.isEmpty, "errors" -> errors.toSeq)
}

/** Shared op bookkeeping. Round 0 is the snapshot (or warm-up) and is kept
  * out of the latency statistics; every round counts for failures.
  */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val work: String) {
  val lake = s"$work/lake"
  val out = s"$work/out"
  val ops = mutable.ArrayBuffer.empty[Op]
  val samples = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  var activeNs = 0L

  def snapshot(): Unit
  /** The timed phase: `units` rounds or passes. */
  def timed(units: Int): Unit
  def extra: Map[String, Any] = Map.empty

  /** Runs `body` (returning rows delivered) as one op, timed and traced. */
  def runOp(name: String, round: Int, traced: Boolean, module: String = "")(body: => Long): Op = {
    val op = new Op(ops.size, name, round, module, traced)
    val t0 = System.nanoTime()
    try op.rows = tr.op(op.id, name, traced)(body)
    catch { case NonFatal(e) => op.fail(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
    val dt = System.nanoTime() - t0
    tr.detach()
    op.ms = dt / 1e6
    if (round > 0) activeNs += dt
    ops += op
    sample(op, "tables.storage_mb",
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
    op
  }

  def sample(op: Op, key: String, value: Double): Unit =
    samples += Json.obj("op" -> op.id, "key" -> key, "value" -> value)

  /** Lands the files of `batch/<table>.parquet` in the lake, then evicts
    * the engine's memoized plans for the lake.
    */
  def land(batch: Path, round: Int): Unit = {
    Files.list(batch).iterator().asScala.toSeq.foreach(landTable(_, round))
    val t0 = System.nanoTime()
    Tables.invalidate(spark, lake)
    val dt = System.nanoTime() - t0
    activeNs += dt
    invalidateMs += dt / 1e6
  }
  val invalidateMs = mutable.ArrayBuffer.empty[Double]

  /** Moves the files of one batch table dir into the lake's table dir. */
  def landTable(tdir: Path, round: Int): Unit = {
    val dst = Paths.get(lake, tdir.getFileName.toString)
    Files.list(tdir).iterator().asScala.toSeq.foreach { f =>
      Files.move(f, dst.resolve(f"part-$round%05d.parquet"))
    }
  }

  /** A parquet dir read for checking, with NTZ timestamps made instants. */
  def raw(path: String): DataFrame = {
    val df = spark.read.parquet(path)
    df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast("timestamp").as(f.name) else col(f.name)
    }.toSeq: _*)
  }

  /** Data files under `dir`, recursively, without markers or hidden files. */
  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        Files.isRegularFile(f) && p.relativize(f).iterator().asScala
          .forall { part => val n = part.toString; !n.startsWith("_") && !n.startsWith(".") }
      }.toSeq.sortBy(_.toString)
      finally s.close()
    }
  }

  def batchDirs: Seq[Path] = {
    val p = Paths.get(work, "batches")
    if (!Files.exists(p)) Seq.empty
    else Files.list(p).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
  }
}
