package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{Q, Tables}

/** Structured Streaming surface: the `events` table replayed as a file
  * stream, aggregated with tumbling event-time windows.
  *
  * Each query drains synchronously (AvailableNow) so its result is a plain
  * DataFrame the driver can hash-compare; the oracle is the equivalent
  * batch query. EVERY query drains to the PARQUET file sink (append mode
  * directly; complete mode via foreachBatch distributed overwrite) and is
  * read back — the memory sink is a driver-side collect, which the sf10
  * probe proved non-scalable (st6 overflowed `spark.driver.maxResultSize`
  * at ~10M rows), so no streaming query materializes rows on the driver.
  * At scale the same plan runs continuously with a watermark bounding state
  * (see graft.streaming.EventStream for the watermarked append-mode variant).
  */
object StreamingQueries {

  private val stageDirRoot = s"${graft.GraftSession.scratchRoot}/stream-stage"

  /** State-partition count for the stateful streaming queries.
    *
    * A stateful query's state partitioning is fixed at its FIRST checkpoint
    * by `spark.sql.shuffle.partitions` — so it must be sized to expected
    * state volume and commit overhead, not inherited from the batch shuffle
    * default. Profiled at sf0.1: st4 keeps ~40k state rows, and every
    * micro-batch commits 4 join-store deltas PER PARTITION (~0.5 s of task
    * time each) — at 32 partitions that is 128 commits ≈ 70–90 s of task
    * time per batch (~5 s wall on 32 threads) against a join that costs
    * well under 1 s; at 8 partitions the same query runs ~1.7 s with 5k
    * state rows per partition. At cluster scale the same arithmetic applies
    * upward: raise the count until per-partition state fits memory and
    * commit parallelism saturates, and re-partition via a fresh checkpoint
    * when state grows — the mechanics of that migration (count frozen at
    * first checkpoint, fresh checkpoint picks up the larger count, results
    * identical) are executed in StreamingScaleOutSpec, and the measured
    * effect at sf10 is recorded in BENCH_SCALE.md.
    *
    * Since every Verify/Bench run starts a fresh checkpoint, the count is
    * CHOSEN here at fresh-checkpoint time from the staged input volume
    * (see [[autoStatePartitions]]) rather than wired to a local[32]
    * profile constant — at 100× data a fresh checkpoint should not keep
    * sf0.1's 8 unless an operator remembers an env var.
    * `SPARK_GRAFT_STATE_PARTITIONS` remains the explicit override for
    * scale probes and cluster tuning.
    */
  private def statePartitionsFor(s: SparkSession, dir: String): Int =
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS").map(_.toInt).getOrElse {
      val n = stagedRows.getOrElseUpdate(dir, s.read.parquet(dir).count())
      autoStatePartitions(n, s.sparkContext.defaultParallelism)
    }

  /** Input rows per staged events dir — counted once (parquet metadata
    * count, no column IO) and memoized for the session.
    */
  private val stagedRows = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Auto-sizing rule, calibrated on the measured profiles: one state
    * partition per ~320k input events, rounded up to a power of two,
    * floored at 8 and capped at 64. That lands exactly on the two measured
    * optima — 100k events (sf0.1) → 8 (st4: 5k state rows/partition,
    * commit overhead negligible) and 10M events (sf10) → 32 (st2 median
    * 15.5 → 11.4 s vs the frozen default, BENCH_SCALE.md). Power-of-two
    * rounding keeps re-checkpoint migrations between neighboring sizes
    * predictable; the cap follows the session's scheduling capacity —
    * `max(64, defaultParallelism)` — so on a 1000-core cluster a 10⁹-event
    * fresh checkpoint sizes to the executor fleet instead of this
    * harness's 64-thread budget (the 64 floor preserves the locally
    * measured optima on local[32], where defaultParallelism is 32).
    */
  private[graft] def autoStatePartitions(inputRows: Long,
                                         parallelism: Int = 64): Int = {
    val raw = math.max(1L, math.ceil(inputRows / 320000.0).toLong)
    var p2 = 1L
    while (p2 < raw) p2 *= 2
    val cap = math.max(64L, parallelism.toLong)
    math.min(cap, math.max(8L, p2)).toInt
  }

  /** Run `f` (a streaming-query start + drain) with state partitioning
    * sized for the staged input (env override wins); restores the session's
    * batch shuffle setting afterwards, so only the stream's checkpoint
    * picks it up.
    */
  private def withStatePartitions[T](s: SparkSession, dir: String)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitionsFor(s, dir).toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** File-stream sources need a directory; stage the single parquet file into
    * one under [[graft.GraftSession.scratchRoot]].
    */
  private[graft] def stageEvents(s: SparkSession, d: String): String = {
    val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = s"$stageDirRoot/events_$sf"
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      Tables.events(s, d).write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Drain an append-mode stream through the PARQUET file sink and read the
    * result back. The memory sink is a driver-side collect: at the sf10
    * probe, st6's ~10M enriched rows overflowed
    * `spark.driver.maxResultSize` — precisely the non-scalable harness the
    * file sink replaces (executors write partitions directly; the driver
    * never holds rows).
    */
  private def drainToParquet(s: SparkSession, df: DataFrame, tag: String): DataFrame = {
    // registered for deletion at end-of-unit-of-work (clearCaches): the
    // read-back result is lazy, so the sink dir must outlive this method
    val out = graft.CacheRegistry.trackPath(
      s"${graft.GraftSession.scratchRoot}/stream-sink/${tag}_${System.nanoTime()}")
    val q = df.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$out/_ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    reportStreamStats(s, q, tag)
    s.read.parquet(out)
  }

  /** SPARK_GRAFT_STREAM_STATS=1: print per-drain state-store statistics —
    * batches run, PEAK total state rows across operators, and the state
    * partition count in effect — the numbers a state-store capacity plan
    * is made of (scale-bench instrumentation; off in normal runs).
    */
  private def reportStreamStats(s: SparkSession,
      q: org.apache.spark.sql.streaming.StreamingQuery, tag: String): Unit =
    if (sys.env.get("SPARK_GRAFT_STREAM_STATS").contains("1")) {
      val progs = q.recentProgress
      val peak = if (progs.isEmpty) 0L
        else progs.map(p => p.stateOperators.map(_.numRowsTotal).sum).max
      val mem = if (progs.isEmpty) 0L
        else progs.map(p => p.stateOperators.map(_.memoryUsedBytes).sum).max
      println(s"[stream-stats] tag=$tag batches=${progs.length} " +
        s"peakStateRows=$peak peakStateBytes=$mem " +
        s"statePartitions=${s.conf.get("spark.sql.shuffle.partitions")}")
    }

  /** Drain a COMPLETE-mode aggregation to parquet without ever landing rows
    * on the driver. The file sink rejects complete output, so this uses
    * `foreachBatch` + a distributed overwrite: each micro-batch rewrites
    * the full (state-sized) result from the executors, and the final
    * overwrite — the batch after the last input file — is the complete
    * answer. With this, NO streaming query in the pack materializes
    * results through the driver (the memory sink's collect), making the
    * no-driver-rows property universal; StreamingPlanSpec asserts no
    * memory-sink query remains. Complete-mode output is still inherently
    * state-sized — the watermarked append-mode variants (st4/st5,
    * graft.streaming.EventStream) remain the unbounded-cardinality path.
    */
  private def drainCompleteToParquet(s: SparkSession, df: DataFrame, tag: String): DataFrame = {
    val out = graft.CacheRegistry.trackPath(
      s"${graft.GraftSession.scratchRoot}/stream-sink/${tag}_${System.nanoTime()}")
    val data = s"$out/data"
    val q = df.writeStream
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/_ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(data)
      }
      .start()
    q.awaitTermination()
    reportStreamStats(s, q, tag)
    s.read.parquet(data)
  }

  /** ST4's streaming plan, pre-sink: views joined to same-user clicks in the
    * following hour, both sides watermarked, event-time range constraint in
    * the join condition (what bounds state in continuous operation).
    * Exposed so StreamingPlanSpec can assert the physical plan
    * (StreamingSymmetricHashJoin + both watermarks) on the same DataFrame
    * the query runs.
    */
  private[graft] def st4Joined(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(dir).schema
    val views = s.readStream.schema(schema).parquet(dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "1 hour")
    val clicks = s.readStream.schema(schema).parquet(dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    views.join(clicks,
      col("user_id") === col("c_user") &&
        col("cts") >= col("vts") &&
        col("cts") < col("vts") + expr("INTERVAL 1 HOUR"))
  }

  /** ST3's streaming plan, pre-sink: a doubled stream deduped on the event
    * key — streaming dedup state, not a batch distinct (asserted in
    * StreamingPlanSpec).
    */
  private[graft] def st3Deduped(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(dir).schema
    val src = s.readStream.schema(schema).parquet(dir)
    src.union(src).dropDuplicates("event_id")
  }

  /** ST5's streaming plan: the PRODUCTION dedup primitive —
    * `dropDuplicatesWithinWatermark` keeps per-key state only until the
    * watermark passes it, so state is O(keys in the watermark window), not
    * O(all keys ever) as in st3's unbounded variant.
    */
  /** st7's stateful core: distinct (user, day-window) pairs with the
    * event-time window IN the dedup key, so the watermark evicts each
    * day's user set once the day closes — state is one day's distinct
    * users, never users-ever.
    */
  private[graft] def st7Pairs(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(dir).schema
    s.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "24 hours")
      .select(col("user_id"), window(col("ts"), "1 day").as("w"))
      .dropDuplicates("user_id", "w")
  }

  private[graft] def st5Deduped(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(dir).schema
    val src = s.readStream.schema(schema).parquet(dir)
    src.union(src)
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** ST6's streaming plan: stream-static enrichment join — the streaming
    * fact against a broadcast batch dimension (no state at all: the static
    * side is re-broadcast per micro-batch, the canonical dimension-refresh
    * semantics).
    */
  private[graft] def st6Enriched(s: SparkSession, dir: String, d: String): DataFrame = {
    val schema = s.read.parquet(dir).schema
    val dim = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    s.readStream.schema(schema).parquet(dir)
      .withColumn("nk", col("user_id") % 25)
      .join(broadcast(dim), "nk")
  }

  def all: Seq[Q] = Seq(
    Q("st1_stream_window",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |       event_type, count(*) AS n,
        |       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin) { (s, d) =>
      val dir = stageEvents(s, d)
      val schema = s.read.parquet(dir).schema
      // value sums as exact integer cents (the j1/tq5 contract): streaming
      // state then holds a LONG, and partial-merge order across
      // micro-batches cannot drift the float sum
      val agg = s.readStream.schema(schema).parquet(dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("value") * 100).cast("long")) / 100.0, 2).as("total"))
      val res = withStatePartitions(s, dir) { drainCompleteToParquet(s, agg, "st1") }
      res
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("hour_start", "event_type")
    },

    // ── ST2: SESSION windows — Spark's native session_window (merge while
    // events are < gap apart; a gap of >= 12h closes the session). The
    // oracle is the classic gaps-and-islands rewrite: break where the lag
    // difference reaches the gap, cumulative-sum breaks into session ids,
    // aggregate per (user, session). CAST(ts AS TIMESTAMP) truncates
    // DuckDB's nanos to micros — the same truncation Tables.events applies
    // on the Spark side — so boundary arithmetic agrees bit-for-bit.
    Q("st2_session_window",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |b AS (SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 12 HOUR THEN 1 ELSE 0 END AS brk
        |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                               ROWS UNBOUNDED PRECEDING) AS sid FROM b)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n,
        |       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val dir = stageEvents(s, d)
      val schema = s.read.parquet(dir).schema
      val agg = s.readStream.schema(schema).parquet(dir)
        .groupBy(col("user_id"), session_window(col("ts"), "12 hours"))
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("value") * 100).cast("long")) / 100.0, 2).as("total"))
      val res = withStatePartitions(s, dir) { drainCompleteToParquet(s, agg, "st2") }
      res
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n"), col("total"))
        .orderBy("user_id", "session_start")
    },

    // ── ST4: stream-stream interval join — click attribution: each view
    // joined to same-user clicks within the following hour. Both sides are
    // watermarked and the join carries the event-time range constraint, so
    // in continuous operation state is bounded (a view can be dropped once
    // the click watermark passes vts + 1h); inner join emits in append
    // mode. The oracle is the equivalent batch self-join.
    Q("st4_stream_stream_join",
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
        |       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS vt,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ct
        |FROM e v JOIN e c
        |  ON v.user_id = c.user_id AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, click_id""".stripMargin) { (s, d) =>
      val dir = stageEvents(s, d)
      val res = withStatePartitions(s, dir) { drainToParquet(s, st4Joined(s, dir), "st4") }
      res.select(col("view_id"), col("click_id"), col("user_id"),
          date_format(col("vts"), "yyyy-MM-dd HH:mm:ss").as("vt"),
          date_format(col("cts"), "yyyy-MM-dd HH:mm:ss").as("ct"))
        .orderBy("view_id", "click_id")
    },

    // ── ST3: streaming deduplication — the exactly-once-ingest primitive: a
    // doubled stream (self-union, every event arrives twice) deduped on the
    // event key yields the original set. State is per-key; in production
    // dropDuplicatesWithinWatermark bounds it by event time.
    Q("st3_stream_dedup",
      """SELECT event_id, user_id, event_type,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS t,
        |       round(value, 2) AS v
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val dir = stageEvents(s, d)
      val res = withStatePartitions(s, dir) { drainToParquet(s, st3Deduped(s, dir), "st3") }
      res.select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"),
          round(col("value"), 2).as("v"))
        .orderBy("event_id")
    },

    // ── ST5: watermark-bounded streaming dedup — same result as st3, but
    // with the state contract a continuous deployment needs: per-key dedup
    // state is dropped once the watermark passes it (state = keys within
    // the watermark window, not keys-ever). Same oracle as st3.
    Q("st5_stream_dedup_watermark",
      """SELECT event_id, user_id, event_type,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS t,
        |       round(value, 2) AS v
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val dir = stageEvents(s, d)
      val res = withStatePartitions(s, dir) { drainToParquet(s, st5Deduped(s, dir), "st5") }
      res.select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"),
          round(col("value"), 2).as("v"))
        .orderBy("event_id")
    },

    // ── ST6: stream-static enrichment join — the streaming fact against a
    // broadcast batch dimension (plan-asserted: BroadcastHashJoin inside
    // the micro-batch, zero streaming state). The oracle is the equivalent
    // batch join.
    Q("st6_stream_static_join",
      """SELECT n.n_name, count(*) AS n,
        |       round(sum(CAST(round(e.value * 100) AS BIGINT)) / 100.0, 2) AS total
        |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
        |GROUP BY 1 ORDER BY n_name""".stripMargin) { (s, d) =>
      val dir = stageEvents(s, d)
      val res = withStatePartitions(s, dir) { drainToParquet(s, st6Enriched(s, dir, d), "st6") }
      res.groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("value") * 100).cast("long")) / 100.0, 2).as("total"))
        .orderBy("n_name")
    },

    // ── ST7: streaming daily-active-users — the canonical product metric
    // whose hard part at scale is the per-window DISTINCT state, not the
    // count: dedup on (user_id, day-window) with the event-time window in
    // the dedup key, so the watermark EVICTS each day's user set once the
    // day closes — state is one day's distinct users, never users-ever
    // (st5's identity-dedup contract lifted to a time-bucketed key). The
    // deduped pairs drain to parquet (st6's pattern) and the count per day
    // is a batch rollup of the drained, already-distinct rows; the oracle
    // is the batch count(DISTINCT user_id) per day.
    Q("st7_stream_dau",
      """SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        |       count(DISTINCT user_id) AS dau
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      val dir = stageEvents(s, d)
      val res = withStatePartitions(s, dir) { drainToParquet(s, st7Pairs(s, dir), "st7") }
      res.groupBy("w")
        .agg(count(lit(1)).as("dau"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"), col("dau"))
        .orderBy("day")
    },

    // ── ST8: arbitrary stateful processing via flatMapGroupsWithState —
    // the custom-state API the built-in stateful operators (window aggs,
    // dedup, stream-stream join) can't express: a hand-written per-user
    // profile (event count, first/last seen, distinct event types) updated
    // per micro-batch. The state reducer is ORDER-INSENSITIVE (count,
    // min, max, set-union), so the final per-user state is identical
    // however AvailableNow slices the input into batches — that is what
    // makes a custom-state query oracle-checkable at all; a reducer that
    // depends on intra-batch order has no batch-SQL twin. Update-mode
    // output appends every per-batch emission tagged with its batch id;
    // the last emission per user IS the final state. At 100 TB the state
    // is one small fixed-size row per user sharded across state
    // partitions; continuous operation would add an event-time timeout
    // (GroupStateTimeout) to expire idle users — NoTimeout here because
    // the drain is bounded.
    Q("st8_custom_state",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       min(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |                     CAST(ts AS TIMESTAMP))) AS first_sec,
        |       max(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |                     CAST(ts AS TIMESTAMP))) AS last_sec,
        |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val dir = stageEvents(s, d)
      withStatePartitions(s, dir) { st8Drained(s, dir) }
    }
  )

  /** st8's streaming plan, pre-sink: per-user custom state via
    * flatMapGroupsWithState (exposed so StreamingPlanSpec can assert the
    * FlatMapGroupsWithState physical node on the DataFrame the query
    * runs).
    */
  private[graft] def st8Profiles(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[St8Out] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val schema = s.read.parquet(dir).schema
    s.readStream.schema(schema).parquet(dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"), col("event_type"))
      .as[St8Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[St8Event], state: GroupState[St8State]) =>
          val old = state.getOption.getOrElse(
            St8State(0L, Long.MaxValue, Long.MinValue, Nil))
          var n = old.n
          var first = old.first
          var last = old.last
          var types = old.types.toSet
          it.foreach { e =>
            n += 1
            if (e.sec < first) first = e.sec
            if (e.sec > last) last = e.sec
            types += e.event_type
          }
          val next = St8State(n, first, last, types.toSeq.sorted)
          state.update(next)
          Iterator(St8Out(uid, n, first, last, next.types.mkString(",")))
      }
  }

  /** Drain st8's update-mode stream: every micro-batch's emissions append
    * tagged with the batch id; the final answer is the LAST emission per
    * user (state is cumulative, so later batches strictly supersede).
    */
  private def st8Drained(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val out = graft.CacheRegistry.trackPath(
      s"${graft.GraftSession.scratchRoot}/stream-sink/st8_${System.nanoTime()}")
    val data = s"$out/data"
    val q = st8Profiles(s, dir).toDF().writeStream
      .outputMode("update").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/_ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.withColumn("batch_id", lit(id)).write.mode("append").parquet(data)
      }
      .start()
    q.awaitTermination()
    reportStreamStats(s, q, "st8")
    val w = Window.partitionBy("user_id").orderBy(col("batch_id").desc)
    s.read.parquet(data)
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select("user_id", "n_events", "first_sec", "last_sec", "types")
      .orderBy("user_id")
  }
}

/** st8's typed-stream records: input event, per-user state, emitted
  * profile (top-level so Spark's product encoders resolve them).
  */
private[graft] case class St8Event(user_id: Long, sec: Long, event_type: String)
private[graft] case class St8State(n: Long, first: Long, last: Long, types: Seq[String])
private[graft] case class St8Out(user_id: Long, n_events: Long,
    first_sec: Long, last_sec: Long, types: String)
