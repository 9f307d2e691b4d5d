package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite, UTC, small shuffle fan-out for local.
  *
  * Suites run one after another on the same session, so a setting one
  * suite leaves behind changes what the next one measures. The suite
  * fails if its session config, or the optimizer rules and planner
  * strategies added through `spark.experimental`, differ from the ones it
  * started with.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.chunkBase64String.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  /** Runs `body` with `settings` on the session, then puts each key back
    * as it was: its old value, or unset. (`conf.getOption` returns a
    * registered key's default, so restoring from it would leave the key
    * set.)
    */
  def withConf[T](settings: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally settings.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private var confAtStart: Map[String, String] = Map.empty
  private var experimentalAtStart: (Seq[Any], Seq[Any]) = (Nil, Nil)

  /** The optimizer rules and planner strategies added at runtime. */
  private def experimental: (Seq[Any], Seq[Any]) =
    (spark.experimental.extraOptimizations, spark.experimental.extraStrategies)

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    confAtStart = spark.conf.getAll
    experimentalAtStart = experimental
  }

  override protected def afterAll(): Unit =
    try {
      val now = spark.conf.getAll
      val changed = (confAtStart.keySet ++ now.keySet).toSeq.sorted
        .filter(k => confAtStart.get(k) != now.get(k))
        .map(k => s"$k: ${confAtStart.getOrElse(k, "<unset>")} -> ${now.getOrElse(k, "<unset>")}")
      assert(changed.isEmpty, s"session config leaked: ${changed.mkString("; ")}")
      assert(experimental == experimentalAtStart,
        s"experimental rules leaked: $experimentalAtStart -> $experimental")
    } finally super.afterAll()
}
