package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** `pack`: a slice of the named query pack. Each query is built, planned
  * and executed in full, and its (small) result is collected, so that
  * `run.py` can compare it with the query's oracle.
  */
final class Pack(cfg: Map[String, String]) extends Workload {
  private val dir = cfg("tables")
  private val names = cfg("queries").split(',').toSeq
  private lazy val fns = {
    val all = graft.SparkEntry.queries
    names.map(n => n -> all(n))
  }
  /** Distinct results per query over the passes, as rendered rows. */
  private val results = mutable.Map.empty[String, mutable.Set[Seq[Seq[Any]]]]
  private val columns = mutable.Map.empty[String, Seq[String]]
  private val phase = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val tracedQ = mutable.ArrayBuffer.empty[Double]

  private def runAll(spark: SparkSession, trace: Option[Trace], record: Boolean): Seq[Op] =
    fns.map { case (name, fn) =>
      var build, plan = 0.0
      val (op, n) = Main.timed(s"query:$name") {
        trace.foreach(_.setSpan(s"q.$name|build"))
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        trace.foreach(_.setSpan(s"q.$name|plan"))
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        trace.foreach(_.setSpan(s"q.$name|exec"))
        val rows = df.queryExecution.toRdd.map(_.copy()).collect()
        build = (t1 - t0) / 1e9
        plan = (t2 - t1) / 1e9
        (df.schema, rows)
      }
      trace.foreach(_.setSpan(""))
      if (record) {
        n.foreach { case (schema, rows) =>
          val toScala = CatalystTypeConverters.createToScalaConverter(schema)
          val rendered = rows.toSeq.map(r => toScala(r).asInstanceOf[Row].toSeq.map(render))
          results.getOrElseUpdate(name, mutable.Set.empty) += rendered
          columns(name) = schema.fieldNames.toSeq
        }
        if (trace.isDefined) {
          phase("build") += build
          phase("plan") += plan
          phase("exec") += op.seconds - build - plan
          perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += op.seconds
          tracedQ += op.seconds
        }
      }
      op
    }

  def warmUp(spark: SparkSession, k: Int): Unit = {
    runAll(spark, None, record = false)
    graft.queries.TextQueries.clearCaches()
    spark.catalog.clearCache()
  }

  def pass(spark: SparkSession, i: Int, trace: Option[Trace]): Seq[Op] =
    runAll(spark, trace, record = true)

  override def afterPass(spark: SparkSession, i: Int): Unit = {
    graft.queries.TextQueries.clearCaches()
    spark.catalog.clearCache()
  }

  def primary(kind: String): Boolean = kind.startsWith("query:")

  /** A result value as JSON can carry it: numbers stay numbers, times
    * become UTC wall-clock strings.
    */
  private def render(v: Any): Any = v match {
    case t: java.sql.Timestamp => Pack.ts.format(t.toInstant)
    case d: java.sql.Date => d.toString
    case b: java.math.BigDecimal => b.doubleValue
    case b: scala.math.BigDecimal => b.toDouble
    case n: java.lang.Number => n
    case other => if (other == null) null else other.toString
  }

  def checks(spark: SparkSession): Map[String, Any] = {
    val oracles = graft.SparkEntry.oracleSql
    Map("results" -> results.map { case (k, v) => k -> v.toSeq }.toMap,
      "columns" -> columns.toMap,
      "oracle" -> names.flatMap(n => oracles.get(n).map(n -> _)).toMap)
  }

  def layerMetrics(t: Trace, nTraced: Int, tracedWall: Double, cpus: Int): Map[String, Any] = {
    val per = nTraced.toDouble
    val all = t.listener.sum(k => k.startsWith("q.") && !k.contains('>'))
    val build = t.listener.sum(k => k.startsWith("q.") && k.endsWith("|build"))
    val exec = t.listener.sum(k => k.startsWith("q.") && k.endsWith("|exec"))
    val base = Map[String, Any](
      "pack.build_s" -> phase("build") / per,
      "pack.plan_s" -> phase("plan") / per,
      "pack.exec_s" -> phase("exec") / per,
      "pack.jobs" -> all.jobs / per,
      "pack.eager_jobs" -> build.jobs / per,
      "pack.tasks_per_stage" -> (if (all.stages == 0) 0.0 else all.tasks.toDouble / all.stages),
      "pack.core_use" -> (if (tracedWall <= 0) 0.0 else all.taskNs / 1e9 / (tracedWall * cpus)),
      "pack.exec_core_use" ->
        (if (phase("exec") <= 0) 0.0 else exec.taskNs / 1e9 / (phase("exec") * cpus)),
      "pack.shuffle_mb" -> all.shuffleBytes / 1e6 / per,
      "pack.query_p50_s" -> Main.median(tracedQ.toSeq))
    base ++ names.flatMap { n =>
      val c = t.listener.sum(k => k.startsWith(s"q.$n|") && !k.contains('>'))
      Seq(s"q.$n.s" -> Main.median(perQuery.getOrElse(n, mutable.ArrayBuffer.empty).toSeq),
        s"q.$n.jobs" -> c.jobs / per)
    }
  }
}

object Pack {
  val ts: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
}
