package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Work counted inside one bracket. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleBytes = 0L
  var rowsRead = 0L
  var outBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    shuffleBytes += o.shuffleBytes; rowsRead += o.rowsRead; outBytes += o.outBytes
  }
}

/** The inner layers: public functions of the ads modules that
  * `Pipelines.dailySync` calls. A frame belongs to a layer when its class is
  * one of these objects and its method (or the lambda it encloses) is one of
  * the listed functions.
  */
object Layers {
  val functions: Map[String, Set[String]] = Map(
    "graft.ads.InsightsSource" -> Set("read"),
    "graft.ads.AdOps" -> Set("collectActionTypes", "flattenAndPivot"),
    "graft.ads.SchemaEvolution" -> Set("tableSchema"),
    "graft.ads.Sinks" -> Set("csvAudit", "appendToTableChecked"))

  private val anon = """\$anonfun\$([A-Za-z0-9_]+)\$.*""".r

  def of(className: String, method: String): Option[String] = {
    val obj = className.stripSuffix("$")
    functions.get(obj).flatMap { fs =>
      val m = method match {
        case anon(name) => name
        case other      => other
      }
      if (fs(m)) Some(obj.substring(obj.lastIndexOf('.') + 1) + "." + m) else None
    }
  }

  private val frame = """\s*(?:at\s+)?([\w.$]+)\.([\w$]+)\(.*""".r

  /** Innermost layer in a call-site long form (innermost frame first). */
  def ofCallSite(longForm: String): Option[String] =
    longForm.linesIterator.collectFirst(Function.unlift {
      case frame(c, m) => of(c, m)
      case _           => None
    })

  def ofStack(st: Array[StackTraceElement]): Option[String] =
    st.iterator.map(e => of(e.getClassName, e.getMethodName)).collectFirst { case Some(l) => l }
}

/** Job-level counters. Every job is booked under the harness span that was
  * current when it was submitted (a local property, inherited by Spark's
  * helper threads) and, when the stack that submitted it (the SQL
  * execution's call site) passes through a layer function, under
  * `<span>><layer>` for the innermost one. Only jobs submitted while
  * tracing is on are booked.
  */
final class LayerListener extends SparkListener {
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val stageKeys = new ConcurrentHashMap[Int, Seq[String]]()
  private val byKey = mutable.Map.empty[String, Counts]

  private def add(keys: Seq[String])(f: Counts => Unit): Unit = synchronized {
    keys.foreach(k => f(byKey.getOrElseUpdate(k, new Counts)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Layers.ofCallSite(s.details).foreach(execLayer.put(s.executionId, _))
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = j.properties
    def prop(k: String) = Option(p).flatMap(q => Option(q.getProperty(k)))
    if (prop(Trace.TracedKey).contains("1")) {
      val inner = prop("spark.sql.execution.id").flatMap(id => Option(execLayer.get(id.toLong)))
        .orElse(j.stageInfos.iterator.map(s => Layers.ofCallSite(s.details))
          .collectFirst { case Some(l) => l })
      val span = prop(Trace.SpanKey).getOrElse("")
      val keys = span +: inner.map(Trace.key(span, _)).toSeq
      j.stageIds.foreach(stageKeys.put(_, keys))
      add(keys)(_.jobs += 1)
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageKeys.get(s.stageInfo.stageId)).foreach(add(_)(_.stages += 1))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    for (keys <- Option(stageKeys.get(t.stageId)); m <- Option(t.taskMetrics)) add(keys) { c =>
      c.tasks += 1
      c.taskNs += m.executorRunTime * 1000000L
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.rowsRead += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
    }

  /** Counts summed over the keys that satisfy `p`; a job is booked once
    * under its span, so `!_.contains('>')` counts every job once.
    */
  def sum(p: String => Boolean): Counts = synchronized {
    val c = new Counts
    byKey.foreach { case (k, v) => if (p(k)) c += v }
    c
  }
}

/** The traced run's instruments: the job listener and a sampler that reads
  * the main thread's stack every few milliseconds and books the sample to the
  * innermost layer function on it (as `<span>><layer>`, else to the
  * current harness span). A layer's sampled time is therefore its self
  * time.
  */
final class Trace(sc: SparkContext) {
  val listener = new LayerListener
  sc.addSparkListener(listener)

  private val main = Thread.currentThread()
  private val samples = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var on = false
  @volatile private var stopped = false
  @volatile var span: String = ""
  private var tracedNs = 0L
  private var tracedSince = 0L
  private var nSamples = 0L

  private val sampler = new Thread(() => {
    while (!stopped) {
      if (on) {
        val s = span
        val key = Layers.ofStack(main.getStackTrace).fold(s)(Trace.key(s, _))
        samples.merge(key, 1L, (a, b) => a + b)
        synchronized(nSamples += 1)
      }
      Thread.sleep(Trace.SampleMs)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Turn tracing on or off for the work the main thread submits next. */
  def traced(flag: Boolean): Unit = {
    sc.setLocalProperty(Trace.TracedKey, if (flag) "1" else "0")
    if (flag && !on) tracedSince = System.nanoTime()
    if (!flag && on) tracedNs += System.nanoTime() - tracedSince
    on = flag
  }

  def setSpan(s: String): Unit = {
    span = s
    sc.setLocalProperty(Trace.SpanKey, s)
  }

  /** Seconds of traced wall time the samples booked to `key` stand for. */
  def sampledSeconds(key: String): Double = synchronized {
    if (nSamples == 0) 0.0
    else Option(samples.get(key)).map(_.toDouble).getOrElse(0.0) / nSamples * tracedNs / 1e9
  }

  def close(): Unit = {
    stopped = true
    sampler.join()
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val TracedKey = "perfbench.traced"
  val SampleMs = 5L

  def key(span: String, layer: String): String = s"$span>$layer"
}
