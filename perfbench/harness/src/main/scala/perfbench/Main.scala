package perfbench

import java.io.FileInputStream
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed call into the program. */
final case class Op(kind: String, seconds: Double, error: Option[String])

/** Runs one workload in one JVM and writes what it observed as JSON:
  * `perfbench.Main <manifest.properties> <out.json>`.
  *
  * The manifest (written by `perfbench/run.py`) names the generated inputs,
  * a scratch root for everything the program writes, the time budget and
  * whether to trace. Checks against the generator's expectations happen in
  * `run.py`; this side reports the observed values.
  *
  * Shape of a run: set up `Setups` times (a fresh session plus one warm-up
  * unit of the workload; the median is `setup_s`), then run passes of the
  * workload until the time budget is spent. With tracing, passes alternate
  * untraced and traced, so the trace overhead is measured in the same run.
  */
object Main {
  val Setups = 3
  /** Timed passes a run makes at least; a traced run alternates untraced
    * and traced passes, so it has at least one of each.
    */
  val MinPasses = 2

  def main(args: Array[String]): Unit = {
    val m = new Properties()
    m.load(new FileInputStream(args(0)))
    val cfg = m.asScala.toMap
    val w = Workload(cfg)
    val result = run(cfg, w)
    Files.writeString(Paths.get(args(1)), Json.obj(result))
  }

  private def now() = System.nanoTime()
  private def secs(t0: Long) = (now() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap still in use after a full collection, in MB: what the program
    * retains between passes (caches, broadcasts, leaks).
    */
  private def liveHeap(): Double = {
    // the second collection also frees what the first one let Spark's
    // context cleaner release (broadcast and shuffle state of the pass)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1e6
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)

  def run(cfg: Map[String, String], w: Workload): Map[String, Any] = {
    val cpus = cfg("cpus").toInt
    val budget = cfg("seconds").toDouble
    val tracing = cfg("trace") == "1"

    // set-up: session start plus one warm-up unit, several times
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until Setups) {
      val t0 = now()
      if (spark != null) {
        graft.queries.TextQueries.clearCaches()
        spark.stop()
      }
      spark = GraftSession.build("perfbench", cpus)
      sessionS += secs(t0)
      w.warmUp(spark, k)
      setupS += secs(t0)
      System.err.println(f"[perfbench] setup $k: ${setupS.last}%.3f s")
    }
    w.reset(spark)

    val trace = if (tracing) Some(new Trace(spark.sparkContext)) else None
    val ops = mutable.ArrayBuffer.empty[Op]
    val passS = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val tracedGc = mutable.ArrayBuffer.empty[Double]
    val liveHeapMb = mutable.ArrayBuffer.empty[Double]
    val t0 = now()
    var i = 0
    while ((i < MinPasses || secs(t0) < budget) && w.hasPass(i)) {
      val traced = tracing && i % 2 == 1
      trace.foreach(_.traced(traced))
      val g0 = gcSeconds()
      val p0 = now()
      ops ++= w.pass(spark, i, trace.filter(_ => traced))
      passS += traced -> secs(p0)
      System.err.println(f"[perfbench] pass $i${if (traced) " (traced)" else ""}: ${passS.last._2}%.3f s")
      if (traced) tracedGc += gcSeconds() - g0
      trace.foreach(_.traced(false))
      w.afterPass(spark, i)
      liveHeapMb += liveHeap()
      i += 1
    }
    trace.foreach(_.traced(true))
    ops ++= w.finale(spark, trace)
    trace.foreach(_.traced(false))
    trace.foreach(_.close())

    val untracedPass = passS.collect { case (false, s) => s }.toSeq
    val tracedPass = passS.collect { case (true, s) => s }.toSeq
    // typical operation latency: each operation's median over the passes,
    // then the geometric mean over the workload's operations
    val perOp = ops.filter(o => w.primary(o.kind) && o.error.isEmpty)
      .groupBy(_.kind).values.map(os => median(os.map(_.seconds).toSeq)).toSeq
    val opS = if (perOp.isEmpty) 0.0 else math.exp(perOp.map(math.log).sum / perOp.size)
    val endToEnd = Map[String, Any](
      "setup_s" -> median(setupS.toSeq),
      "run_s" -> median(untracedPass),
      "op_s" -> opS,
      "live_heap_mb" -> liveHeapMb.max)
    val layers = trace.map { t =>
      val nTraced = tracedPass.size.max(1)
      Map[String, Any](
        "GraftSession.build.s" -> median(sessionS.toSeq),
        "jvm.gc_s" -> tracedGc.sum / nTraced,
        "jvm.peak_rss_mb" -> peakRssMb(),
        "trace.overhead_s" -> (median(tracedPass) - median(untracedPass))) ++
        w.layerMetrics(t, nTraced, tracedPass.sum, cpus)
    }.getOrElse(Map.empty)
    val checks = w.checks(spark)
    graft.queries.TextQueries.clearCaches()
    spark.stop()
    Map(
      "attempted" -> ops.size,
      "failed" -> ops.count(_.error.isDefined),
      "errors" -> ops.flatMap(o => o.error.map(e => s"${o.kind}: $e")).take(20).toSeq,
      "metrics" -> (endToEnd ++ layers),
      "checks" -> checks)
  }

  /** Times `body`; a throw is recorded with its reason, not swallowed. */
  def timed[T](kind: String)(body: => T): (Op, Option[T]) = {
    val t0 = now()
    try {
      val r = body
      (Op(kind, secs(t0), None), Some(r))
    } catch {
      case e: Throwable =>
        val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
          .linesIterator.take(1).mkString.take(300)
        (Op(kind, secs(t0), Some(msg)), None)
    }
  }

  def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
  }
}

/** One workload: warm-up units, timed passes, checks and layer metrics. */
trait Workload {
  def warmUp(spark: SparkSession, k: Int): Unit
  /** Called once after set-up: drop what the warm-up left behind. */
  def reset(spark: SparkSession): Unit = ()
  def hasPass(i: Int): Boolean = true
  def pass(spark: SparkSession, i: Int, trace: Option[Trace]): Seq[Op]
  def afterPass(spark: SparkSession, i: Int): Unit = ()
  /** Work run once after the timed passes (traced in a traced run). */
  def finale(spark: SparkSession, trace: Option[Trace]): Seq[Op] = Seq.empty
  /** Operations whose latency `op_s` summarises. */
  def primary(kind: String): Boolean
  def checks(spark: SparkSession): Map[String, Any]
  def layerMetrics(t: Trace, nTraced: Int, tracedWall: Double, cpus: Int): Map[String, Any]
}

object Workload {
  def apply(cfg: Map[String, String]): Workload = cfg("workload") match {
    case "ads_daily"    => new AdsDaily(cfg)
    case "pack"         => new Pack(cfg)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
