package graft

import scala.jdk.CollectionConverters._

class JobCounterSpec extends SparkSpec {

  test("a recursive CTE records one call site per counted job") {
    // the empty anchor's loop (UnionLoopExec) runs a job over an RDD with
    // no partitions, which starts with no stages
    val (n, counter) = JobCounter.during(spark) {
      spark.sql(
        """WITH RECURSIVE r(n) AS (
          |  SELECT id FROM range(0) UNION ALL SELECT n + 1 FROM r WHERE n < 5)
          |SELECT count(*) FROM r""".stripMargin).head().getLong(0)
    }
    assert(n == 0)
    assert(counter.jobs.get > 0)
    assert(counter.callSites.size == counter.jobs.get, counter.callSites.asScala.toSeq)
  }
}
