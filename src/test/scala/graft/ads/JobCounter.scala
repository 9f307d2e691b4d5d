package graft.ads

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.concurrent.duration._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Jobs started with their call sites, footer-merge jobs among them (a
  * stage whose call site is [[SchemaEvolution.tableSchema]]), and records
  * read by file scans (stages
  * holding a `FileScanRDD`; cached-block reads are not counted), between
  * `reset` and `drain`. Use it through [[JobCounter.during]].
  */
final class JobCounter(spark: SparkSession) extends SparkListener {
  val jobs = new AtomicInteger
  val footerMerges = new AtomicInteger
  val fileRecords = new AtomicLong
  /** Each job's call site (its result stage's name), in start order. */
  val callSites = new ConcurrentLinkedQueue[String]
  private val marker = new AtomicBoolean
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty("job-counter.marker") != null)
      marker.set(true)
    else {
      jobs.incrementAndGet()
      callSites.add(e.stageInfos.maxBy(_.stageId).name)
      if (e.stageInfos.exists(_.details.contains("SchemaEvolution$.tableSchema")))
        footerMerges.incrementAndGet()
      e.stageInfos.filter(_.rddInfos.exists(_.name == "FileScanRDD"))
        .foreach(s => scanStages.add(s.stageId))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (scanStages.contains(e.stageId) && e.taskMetrics != null)
      fileRecords.addAndGet(e.taskMetrics.inputMetrics.recordsRead)

  def reset(): Unit = {
    jobs.set(0); footerMerges.set(0); fileRecords.set(0); marker.set(false)
    callSites.clear()
  }

  /** Waits until every event before a marker job has been delivered. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty("job-counter.marker", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("job-counter.marker", null)
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (!marker.get() && System.nanoTime() < deadline) Thread.sleep(20)
    assert(marker.get(), "listener bus did not drain")
  }
}

object JobCounter {

  /** Runs `body` with a fresh counter registered; returns its result and
    * the counter, read after every event of `body` has been delivered.
    */
  def during[T](spark: SparkSession)(body: => T): (T, JobCounter) = {
    val counter = new JobCounter(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      counter.drain()
      counter.reset()
      val out = body
      counter.drain()
      (out, counter)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
