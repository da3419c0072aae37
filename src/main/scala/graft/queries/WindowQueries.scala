package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Fixtures

/** Window-function surface + batch forms of the streaming time windows
  * (SURVEY.md §2.2). The time-window expressions are streaming-compatible
  * by construction: the same `window()` / `session_window()` exprs run
  * under `readStream` + `withWatermark` (exercised in StreamingSpec).
  *
  * q_win_prefix is the engine form of the reference's global byte-offset
  * prefix sum (reference ccog/ccog.py:744-757): sum over
  * rowsBetween(unboundedPreceding, -1).
  *
  * Window-start outputs are formatted as strings (second granularity) so
  * the µs-truncated Spark timestamps and DuckDB's ns timestamps can never
  * diverge in the hash compare.
  */
object WindowQueries {

  private val fmtS = "yyyy-MM-dd HH:mm:ss"

  /** The session the streaming demos run in: a child of `spark` (same
    * SparkContext and cached data, its own SQL conf and temp views)
    * holding, as of this call, exactly the modifiable entries of
    * `spark`'s runtime conf, at a shuffle width of 4. The width is 4
    * because a streaming query keeps one state store per shuffle
    * partition per stateful operator (a stream-stream join keeps four
    * per partition) and commits every store each micro-batch: at a
    * core-sized width the demos' few hundred rows would pay hundreds of
    * fixed-cost commits. The demos carry hundreds of rows by design —
    * the operator SEMANTICS are what's exercised; a production stream
    * sizes its width to its volume the same way. A demo binds its
    * MemoryStream and its stream to the child and hands its sink's rows
    * back through [[sinkRows]], so neither the width nor the
    * `q_stream_*_out` view reaches the caller's session. There is one
    * child per caller session, because each session's streaming query
    * manager adds a listener to the SparkContext's bus that is never
    * removed: a child per call would leak one session per demo run.
    * The map holds its callers weakly, but that listener still holds
    * each child until the SparkContext stops. */
  private[graft] def demoSession(spark: SparkSession): SparkSession = {
    val child = demoSessions.computeIfAbsent(spark, _.newSession())
    val want = spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) } +
      ("spark.sql.shuffle.partitions" -> "4")
    child.conf.getAll.keys
      .filter(k => child.conf.isModifiable(k) && !want.contains(k))
      .foreach(child.conf.unset)
    want.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  private val demoSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** The rows the demo session's memory sink `name` holds, as a frame
    * of the caller's session: the demo's result is planned and run
    * under the caller's conf at the time it runs. The sink's view is
    * dropped from the demo session. */
  private[graft] def sinkRows(spark: SparkSession, demo: SparkSession,
      name: String): DataFrame = {
    val sink = demo.table(name)
    val rows = sink.collect()
    demo.catalog.dropTempView(name)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sink.schema)
  }

  /** Ranking: top-3 orders per customer by totalprice (unique tiebreak). */
  def winRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Fixtures.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rn")
  }

  val winRankSql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Distribution window functions: quartile bucket (ntile),
    * percent_rank, cume_dist per order priority — the decile/quantile
    * bucketing shape training-data curation uses for quality-score
    * stratification. Deterministic total order inside each partition
    * (price then key) so the bucket edges are stable. */
  def winNtile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    Fixtures.orders(spark, sfDir)
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 4))
      .withColumn("cume", round(cume_dist().over(w), 4))
      .select($"o_orderpriority", $"o_orderkey", $"quartile", $"pct_rank", $"cume")
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  val winNtileSql: String =
    """SELECT o_orderpriority, o_orderkey,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |  round(percent_rank() OVER w, 4) AS pct_rank,
      |  round(cume_dist() OVER w, 4) AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** lag/lead analytics: per-user event value deltas. */
  def winLag(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Fixtures.events(spark, sfDir)
      .withColumn("delta", round($"value" - lag($"value", 1).over(w), 4))
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .select($"user_id", $"event_id", $"delta", $"next_type")
      .orderBy($"user_id", $"event_id")
  }

  val winLagSql: String =
    """SELECT user_id, event_id,
      |  round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Running prefix sum, frame rowsBetween(unboundedPreceding, -1) —
    * exactly the reference's offset assignment (ccog/ccog.py:744-757).
    * DECIMAL accumulation keeps the running sum exact at any SF. */
  def winPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, -1)
    Fixtures.orders(spark, sfDir)
      .withColumn("prior_spend",
        sum($"o_totalprice".cast("decimal(18,2)")).over(w).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"prior_spend")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val winPrefixSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE) AS prior_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Value-based RANGE frame — the one window-frame class rowsBetween
    * can't express: per customer, the spend on orders dated within ±30
    * days of EACH order (the frame holds every row whose ORDER-BY
    * value is in [v-30, v+30], ties included, independent of row
    * position). Ordering key is integer days since a fixed epoch on
    * BOTH engines so the frame arithmetic is identical; DECIMAL
    * accumulation keeps sums exact at any SF. */
  def winRangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy(datediff($"o_orderdate", to_date(lit("1992-01-01"))))
      .rangeBetween(-30, 30)
    Fixtures.orders(spark, sfDir)
      .withColumn("nearby_spend",
        sum($"o_totalprice".cast("decimal(18,2)")).over(w).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"nearby_spend")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val winRangeFrameSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY (CAST(o_orderdate AS DATE) - DATE '1992-01-01')
      |    RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) AS DOUBLE) AS nearby_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Navigation window values: first_value / last_value / nth_value
    * over the FULL partition frame, plus last_value(... IGNORE NULLS)
    * — the "carry the most recent non-null observation to every row"
    * idiom (last click value per user here; in a training pipeline,
    * the latest quality label). last_value defaults to the growing
    * frame ending at CURRENT ROW on both engines, so the full frame is
    * spelled explicitly; the total order (ts, event_id) makes every
    * navigation value deterministic. */
  def winFirstLast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Fixtures.events(spark, sfDir)
      .withColumn("first_type", first_value($"event_type").over(w))
      .withColumn("last_type", last_value($"event_type").over(w))
      .withColumn("second_value", round(nth_value($"value", 2).over(w), 4))
      .withColumn("last_click_value",
        last_value(when($"event_type" === "click", round($"value", 4)),
          ignoreNulls = lit(true)).over(w))
      .select($"user_id", $"event_id", $"first_type", $"last_type",
        $"second_value", $"last_click_value")
      .orderBy($"user_id", $"event_id")
  }

  val winFirstLastSql: String =
    """SELECT user_id, event_id,
      |  first_value(event_type) OVER w AS first_type,
      |  last_value(event_type) OVER w AS last_type,
      |  round(nth_value(value, 2) OVER w, 4) AS second_value,
      |  last_value(CASE WHEN event_type = 'click' THEN round(value, 4) END
      |             IGNORE NULLS) OVER w AS last_click_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id, event_id""".stripMargin

  /** Rolling median — an arbitrary AGGREGATE as a window function over
    * a sliding row frame (last 11 events per user): the
    * rolling-statistics class (rolling quantiles for outlier gates,
    * rolling means for smoothing) that rank/lag-style window functions
    * can't express. Interpolated percentile matches DuckDB's
    * quantile_cont exactly (same contract q_agg_percentile pins
    * group-wise). One shuffle on user_id. */
  def winRollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-10, Window.currentRow)
    Fixtures.events(spark, sfDir)
      .withColumn("roll_median", round(expr("percentile(value, 0.5)").over(w), 4))
      .select($"user_id", $"event_id", $"roll_median")
      .orderBy($"user_id", $"event_id")
  }

  val winRollingMedianSql: String =
    """SELECT user_id, event_id,
      |  round(quantile_cont(value, 0.5) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW), 4) AS roll_median
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Time-series resample + gap fill + forward fill — the feature-
    * engineering staple: per user, events collapse onto a regular
    * 5-minute grid (epoch-floor arithmetic, identical on both
    * engines), the grid is DENSIFIED with `sequence`+`explode` from
    * each user's first to last bucket (gaps become real rows), and the
    * running value forward-fills through empty buckets via
    * last_value(IGNORE NULLS) over the growing frame. All narrow maps
    * + one grid join on (user, bucket) + one window — at 100 TB the
    * grid explode is generated rows (no shuffle) and the join/window
    * shuffle once on user_id. DECIMAL sums; gaps carry n=0. */
  def tsGapfill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bucket = to_timestamp(floor(unix_timestamp($"ts") / 300L) * 300L)
    val agg = Fixtures.events(spark, sfDir)
      .filter($"user_id" < 3 && $"ts" < lit("2024-01-08").cast("timestamp"))
      .groupBy($"user_id", bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).as("sum_v"))
    val grid = agg.groupBy($"user_id")
      .agg(min($"bucket").as("b0"), max($"bucket").as("b1"))
      .select($"user_id",
        explode(sequence($"b0", $"b1", expr("interval 5 minutes"))).as("bucket"))
    val w = Window.partitionBy($"user_id").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agg, Seq("user_id", "bucket"), "left")
      .select($"user_id",
        date_format($"bucket", fmtS).as("bucket"),
        coalesce($"n", lit(0L)).as("n"),
        round(last_value($"sum_v", ignoreNulls = lit(true)).over(w)
          .cast("double"), 4).as("filled_sum"))
      .orderBy($"user_id", $"bucket")
  }

  val tsGapfillSql: String =
    """WITH agg AS (
      |  SELECT user_id,
      |    to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300) AS bucket,
      |    count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS sum_v
      |  FROM events
      |  WHERE user_id < 3 AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08'
      |  GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(min(bucket), max(bucket),
      |    INTERVAL 5 MINUTE)) AS bucket
      |  FROM agg GROUP BY user_id)
      |SELECT g.user_id,
      |  strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
      |  coalesce(a.n, 0) AS n,
      |  round(CAST(last_value(a.sum_v IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
      |    AS filled_sum
      |FROM grid g LEFT JOIN agg a
      |  ON g.user_id = a.user_id AND g.bucket = a.bucket
      |ORDER BY g.user_id, g.bucket""".stripMargin

  /** The tumbling-window aggregation applied to any events-shaped DF
    * (ts/event_type/value). Shared verbatim by the batch ORACLE query
    * below and the Structured Streaming path (StreamingSpec runs it over
    * a MemoryStream with a watermark) — same exprs, both engines. */
  def tumbleAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), fmtS).as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Tumbling 5-minute window counts per event type. */
  def streamTumble(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    tumbleAgg(Fixtures.events(spark, sfDir))
      .orderBy($"w_start", $"event_type")
  }

  val streamTumbleSql: String =
    """SELECT strftime(time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS w_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** Sliding-window agg over any events-shaped DF — shared by the batch
    * ORACLE query and StreamingSpec's MemoryStream run. */
  def slideAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), fmtS).as("w_start"), col("n"), col("sum_value"))

  /** Sliding window: 10 minutes every 5 — each event lands in exactly
    * two windows; the oracle reproduces that with a two-bucket union. */
  def streamSlide(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    slideAgg(Fixtures.events(spark, sfDir)).orderBy($"w_start")
  }

  val streamSlideSql: String =
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) AS w, value FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 5 MINUTE, value FROM events)
      |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w_start, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM b GROUP BY w ORDER BY w_start""".stripMargin

  /** Session windows, 30-minute gap, per user. Spark merges events whose
    * gap is strictly < the duration; the oracle is the classic
    * gaps-and-islands rewrite with the same strict inequality. */
  /** Session-window agg over any (ts, user_id)-shaped DF — shared by
    * the batch ORACLE query and StreamingSpec. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), date_format(col("w.start"), fmtS).as("session_start"), col("n"))

  def streamSession(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sessionAgg(Fixtures.events(spark, sfDir)).orderBy($"user_id", $"session_start")
  }

  val streamSessionSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |g AS (SELECT user_id, ts,
      |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL 30 MINUTE
      |       THEN 0 ELSE 1 END AS new_s FROM e),
      |s AS (SELECT user_id, ts,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, count(*) AS n
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** A REAL Structured Streaming run as a query entry: deterministic
    * synthetic rows through a MemoryStream, watermarked tumbleAgg,
    * complete-mode memory sink drained with processAllAvailable. NATIVE
    * (streaming runtime isn't DuckDB-comparable; batch equivalence and
    * late-data drop are proven in StreamingSpec). */
  def streamWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val base = 1700000000000L
    val rows = (0 until 300).map { i =>
      (new java.sql.Timestamp(base + i * 53000L),
        if (i % 4 == 0) "click" else "view", (i % 13) + 0.5)
    }
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = tumbleAgg(mem.toDF().toDF("ts", "event_type", "value")
        .withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("q_stream_watermark_out")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
    } finally q.stop()
    sinkRows(spark, demo, "q_stream_watermark_out")
      .orderBy($"w_start", $"event_type")
  }

  /** Streaming dedup-on-ingest: a REAL run of
    * dropDuplicatesWithinWatermark over a MemoryStream with planted
    * in-batch AND cross-batch duplicate event_ids — the ingest-side
    * exact dedup of a training-data pipeline (batch analog:
    * q_dedup_exact). Per-key state is bounded by the watermark — the
    * property that makes dedup feasible on an unbounded stream, where
    * plain dropDuplicates would grow state forever. NATIVE (streaming
    * runtime isn't DuckDB-comparable; exact expected counts pinned in
    * StreamingSpec). */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val base = 1700000000000L
    def ev(i: Int) = (i.toLong, new java.sql.Timestamp(base + i * 41000L),
      if (i % 3 == 0) "doc" else "img")
    // batch 1: ids 0..199, every 5th id emitted twice (in-batch dupes)
    val b1 = (0 until 200).flatMap(i => if (i % 5 == 0) Seq(ev(i), ev(i)) else Seq(ev(i)))
    // batch 2: ids 150..299 — 150..199 re-arrive as cross-batch dupes
    // whose first occurrence is still inside the watermark
    val b2 = (150 until 300).map(ev)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = mem.toDF().toDF("event_id", "ts", "kind")
      .withWatermark("ts", "60 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("q_stream_dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    sinkRows(spark, demo, "q_stream_dedup_out")
      .groupBy($"kind").agg(count(lit(1)).as("n_unique"))
      .orderBy($"kind")
  }

  /** Custom-state sessionization: a REAL `flatMapGroupsWithState` run
    * (EventTimeTimeout) over a MemoryStream — the arbitrary-stateful
    * streaming surface `session_window` can't reach. Sessions close on
    * a 30-min inactivity gap OR a 12-event cap, whichever first (the
    * cap bounds runaway keys — count-dependent splits are inexpressible
    * as a window). Per-key state is O(1) (4 numbers, never the events),
    * evicted by watermark timeout: total state is O(active keys) on an
    * unbounded stream. Three micro-batches split sessions mid-run plus
    * a sentinel that advances the watermark so open tails flush via
    * timeout. NATIVE (streaming runtime isn't DuckDB-comparable;
    * StreamingSpec proves batch-fold equality + cap/gap/cross-batch
    * closures). */
  def streamCustomState(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.streaming.StatefulSession
    import graft.streaming.StatefulSession.SEvent
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val (gapMs, cap) = (30 * 60 * 1000L, 12)
    val base = 1700000000000L
    // per user: 20 events 5 min apart (splits 12-cap + 8), then a 2 h
    // hole, then 10 more (one timeout-closed tail) — users offset by
    // 1 s so no user's stragglers fall behind the global watermark
    def ev(u: Long, k: Int): SEvent = {
      val t = if (k < 20) base + k * 300000L + u * 1000L
              else base + 100 * 60000L + 2 * 3600000L + (k - 20) * 300000L + u * 1000L
      SEvent(u, new java.sql.Timestamp(t), (u * 31 + k) % 7 + 0.5)
    }
    val users = 0L until 5L
    val b1 = for (u <- users; k <- 0 until 10) yield ev(u, k)
    val b2 = for (u <- users; k <- 10 until 25) yield ev(u, k)
    val b3 = for (u <- users; k <- 25 until 30) yield ev(u, k)
    val sentinel = SEvent(999L, new java.sql.Timestamp(base + 10 * 3600000L), 0.0)
    val mem = MemoryStream[SEvent]
    val q = mem.toDS().withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(
        StatefulSession.sessionize(gapMs, cap))
      .writeStream.format("memory").queryName("q_stream_custom_state_out")
      .outputMode("append").start()
    try {
      for (b <- Seq(b1, b2, b3)) { mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
    } finally q.stop()
    sinkRows(spark, demo, "q_stream_custom_state_out")
      .filter($"user_id" =!= 999L)
      .select($"user_id",
        date_format($"session_start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"n_events", round($"total_value", 4).as("total_value"), $"closed_by")
      .orderBy($"user_id", $"session_start")
  }

  /** Streaming windowed quantiles via the mergeable histogram — the
    * q_agg_quantile_hist sketch running ON the stream: per (tumbling
    * window, cent-resolution bin) counts are the ENTIRE streaming
    * state (KB per window regardless of event volume — the reason
    * monitoring systems stream histograms, never raw latencies), and
    * the inverse-CDF walk happens batch-side on the final histogram
    * with the same integer rank arithmetic as the batch twin.
    * Complete-mode aggregation over a bounded demo feed; a production
    * stream appends watermark-finalized windows instead — identical
    * state shape. NATIVE (StreamQuantileSpec: exact equality with
    * nearest-rank quantiles of the same rows computed directly). */
  def streamQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val feed = streamQuantileFeed()
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val q = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "30 minutes")
      .groupBy(window($"ts", "10 minutes"),
        round($"value" * 100).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("q_stream_quantile_out")
      .outputMode("complete").start()
    try {
      val (b1, b2) = feed.splitAt(feed.length / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val hist = sinkRows(spark, demo, "q_stream_quantile_out")
      .select(date_format($"window.start", fmtS).as("window_start"),
        $"bin", $"n")
    val byW = Window.partitionBy($"window_start")
    def qAt(pct: Int) = min(when(
      $"cum" >= expr(s"(total * $pct + 99) div 100"), $"bin"))
      .cast("double") / 100.0
    hist
      .withColumn("cum", sum($"n").over(byW.orderBy($"bin")))
      .withColumn("total", sum($"n").over(byW))
      .groupBy($"window_start")
      .agg(max($"total").as("n"), round(qAt(50), 2).as("p50"),
        round(qAt(95), 2).as("p95"))
      .orderBy($"window_start")
  }

  /** Deterministic heavy-tailed two-window feed shared with the spec. */
  private[graft] def streamQuantileFeed(): Seq[(java.sql.Timestamp, Double)] = {
    val base = 1700000000000L
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until 600).map { i =>
      val u = math.abs(mix(i.toLong)).toDouble / Long.MaxValue
      // exponential-ish tail, 2-decimal fixed point like events.value
      val v = math.round(-40.0 * math.log(1.0 - u * 0.999) * 100) / 100.0
      (new java.sql.Timestamp(base + i * 2000L), v)
    }
  }

  /** Streaming CDC apply — the continuous twin of q_merge_upsert: a
    * stream of upserts/deletes folded into per-key last-write-wins
    * state via `mapGroupsWithState` (Update mode, tombstones visible)
    * — see [[graft.streaming.CdcState]]. The feed plants every CDC
    * ordering hazard: in-batch disorder, cross-batch revive-after-
    * delete, and a LATE STALE update that must NOT roll its key back.
    * NATIVE (CdcSpec: exact equality with the single-pass batch fold,
    * batch-split invariance, the late-event no-rollback law). */
  def streamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import graft.streaming.CdcState
    import graft.streaming.CdcState.Change
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val (b1, b2, b3) = streamUpsertFeed()
    val mem = MemoryStream[Change]
    val q = mem.toDS()
      .groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(CdcState.apply)
      .writeStream.format("memory").queryName("q_stream_upsert_out")
      .outputMode("update").start()
    try {
      for (b <- Seq(b1, b2, b3)) { mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // the key's CURRENT row = its LAST EMISSION, picked by the
    // per-key emission counter CdcState maintains: ordering by
    // (ts, deleted) instead would prefer the tombstone when a delete
    // and an equal-ts upsert land in different batches, the opposite
    // of the fold's delete-then-upsert LWW resolution
    val w = Window.partitionBy($"key").orderBy(desc("seq"))
    sinkRows(spark, demo, "q_stream_upsert_out")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"key", round($"value", 4).as("value"),
        when($"deleted", lit("tombstone")).otherwise(lit("live")).as("status"))
      .orderBy($"key")
  }

  /** The planted CDC feed shared with CdcSpec. */
  private[graft] def streamUpsertFeed(): (Seq[graft.streaming.CdcState.Change],
      Seq[graft.streaming.CdcState.Change], Seq[graft.streaming.CdcState.Change]) = {
    import graft.streaming.CdcState.Change
    val base = 1700000000000L
    def ts(s: Long) = new java.sql.Timestamp(base + s * 1000L)
    val b1 = (0L until 10L).map(k => Change("upsert", k, k * 1.5 + 0.25, ts(k))) ++
      Seq(Change("delete", 0L, 0.0, ts(100)), Change("delete", 1L, 0.0, ts(100)),
        Change("delete", 2L, 0.0, ts(100)))
    val b2 = Seq(
      Change("upsert", 0L, 42.5, ts(200)), // revive after delete
      Change("upsert", 5L, -1.0, ts(2)), // LATE STALE: must be ignored
      Change("upsert", 10L, 10.75, ts(210)),
      Change("upsert", 11L, 11.75, ts(211)),
      Change("upsert", 12L, 12.75, ts(212)),
      Change("delete", 3L, 0.0, ts(220)),
      Change("delete", 13L, 0.0, ts(400))) // equal-ts pair, part 1
    val b3 = Seq(
      Change("upsert", 1L, 17.25, ts(300)), // second revive
      Change("delete", 12L, 0.0, ts(301)),
      // EQUAL-TS upsert in a LATER batch than the delete: the LWW
      // fold applies upsert after delete at the same ts (op order +
      // >=), so the key is LIVE — a picker tie-breaking on the
      // deleted flag would wrongly report the tombstone
      Change("upsert", 13L, 13.5, ts(400)))
    (b1, b2, b3)
  }

  /** Stream-stream inner join — ad-click attribution as a REAL
    * two-MemoryStream run: impressions ⋈ clicks on ad_id with the
    * time-range predicate `click_ts ∈ [imp_ts, imp_ts + 10 min]`.
    * The watermarks + range bound are what make this feasible on
    * unbounded streams: each side's join state is evicted once the
    * other side's watermark passes the range, so state is
    * O(watermark-delay + range window), not O(stream). The 1-hour
    * watermark is deliberate: state eviction is driven by EVENT-time
    * watermarks, so a click arriving a micro-batch later can only
    * match if the impression's state outlived the interim watermark
    * advance — with a 10-minute delay here, batch 1's click watermark
    * already evicts every impression older than ~22 min and the
    * cross-batch second clicks silently match nothing (observed, and
    * exactly what the docs promise). Clicks landing outside the
    * attribution window match nothing; a second click inside it
    * produces a second attributed row (1-to-N preserved). NATIVE
    * (streaming runtime isn't DuckDB-comparable; StreamingSpec proves
    * exact equality with the batch join of the same rows and that the
    * join tolerates cross-batch arrival order). */
  def streamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val base = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    // 120 ads, one impression each, 30 s apart
    val imps = (0 until 120).map(i =>
      (i.toLong, ts(i * 30000L), (i % 9) + 0.25))
    // ads 0..79 click 3 min after their impression (inside the 10-min
    // attribution window); every 10th of those clicks AGAIN at +8 min
    // (1-to-N); ads 80..99 click 30 min after (outside the window);
    // ads 100..119 never click
    val inWin = (0 until 80).map(i => (i.toLong, ts(i * 30000L + 180000L)))
    val second = (0 until 80 by 10).map(i => (i.toLong, ts(i * 30000L + 480000L)))
    val late = (80 until 100).map(i => (i.toLong, ts(i * 30000L + 1800000L)))
    val impStream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val clkStream = MemoryStream[(Long, java.sql.Timestamp)]
    val impDf = impStream.toDF().toDF("ad_id", "imp_ts", "cost")
      .withWatermark("imp_ts", "1 hour")
    val clkDf = clkStream.toDF().toDF("c_ad_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val joined = impDf.join(clkDf, expr(
      """ad_id = c_ad_id AND
        |click_ts >= imp_ts AND
        |click_ts <= imp_ts + interval 10 minutes""".stripMargin))
    val q = joined
      .writeStream.format("memory").queryName("q_stream_join_out")
      .outputMode("append").start()
    try {
      // impressions and first-wave clicks in batch 1; second-wave and
      // late clicks in batch 2 — the join must match across batches
      impStream.addData(imps: _*)
      clkStream.addData(inWin: _*)
      q.processAllAvailable()
      clkStream.addData((second ++ late): _*)
      q.processAllAvailable()
    } finally q.stop()
    sinkRows(spark, demo, "q_stream_join_out")
      .groupBy($"ad_id")
      .agg(count(lit(1)).as("n_attributed"),
        round(first($"cost"), 4).as("cost"))
      .orderBy($"ad_id")
  }

  /** Checkpoint recovery — the fault-tolerance half of Structured
    * Streaming, run for real: a watermarked tumbling aggregation
    * processes batch 1, the query is STOPPED (a crashed executor /
    * redeployed job), and a NEW query restarts from the SAME
    * checkpoint: committed offsets mean batch 1 is not reprocessed,
    * and the recovered state store means its aggregates still count —
    * the final table equals the batch fold of ALL rows exactly once.
    * At 100 TB this is the property that makes a streaming pipeline
    * operable at all: restarts are routine, results must not double or
    * drop. NATIVE (StreamingSpec proves equality with the batch fold
    * and that batch-1 rows survive the restart). */
  def streamRecovery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val base = 1700000000000L
    def ev(i: Int) = (new java.sql.Timestamp(base + i * 47000L),
      if (i % 3 == 0) "click" else "view", (i % 11) + 0.25)
    val b1 = (0 until 150).map(ev)
    val b2 = (150 until 300).map(ev)
    val ckpt = graft.TmpDirs.create("graft_ckpt")
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    def start() =
      tumbleAgg(mem.toDF().toDF("ts", "event_type", "value")
          .withWatermark("ts", "10 minutes"))
        .writeStream.format("memory").queryName("q_stream_recovery_out")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
    val q1 = start()
    try { mem.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    // restart from the same checkpoint: batch 1 is NOT replayed
    // (offsets committed), its aggregates ARE present (state
    // recovered)
    val q2 = start()
    try { mem.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    sinkRows(spark, demo, "q_stream_recovery_out")
      .orderBy($"w_start", $"event_type")
  }

  /** Streaming document-ingest pipeline — the LLM-data shape on a
    * live stream: watermarked dedup-on-arrival (first occurrence wins,
    * per-key state bounded by the watermark) followed by the quality
    * gate (length + repetition, the same Gopher-style signals as
    * q_text_repetition) as NARROW expressions — stateless, so the only
    * streaming state is the dedup store. Two micro-batches plant
    * in-batch dupes, cross-batch dupes, repetitive spam, and
    * too-short docs; the result is per-(source, kept) counts. NATIVE
    * (streaming runtime; StreamingSpec proves exact equality with the
    * batch fold of the same rows through the same gate). */
  /** Deterministic document generator shared with StreamingSpec's
    * batch-fold equality check. */
  def pipelineDoc(i: Int, base: Long,
      sources: Seq[String]): (Long, java.sql.Timestamp, String, String) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val text =
      if (i % 17 == 0) Seq.fill(30)("spam").mkString(" ") // repetition-gated
      else if (i % 23 == 0) "tiny doc" // length-gated
      else (0 until 20 + (i % 30)).map(k =>
        s"w${(mix(i.toLong * 131 + k) & 0x3f)}").mkString(" ")
    (i.toLong, new java.sql.Timestamp(base + i * 37000L), sources(i % 3), text)
  }

  def streamPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val base = 1700000000000L
    val sources = Seq("web", "books", "code")
    def doc(i: Int) = pipelineDoc(i, base, sources)
    // batch 1: 0..149, every 10th doc emitted twice (in-batch dupes);
    // batch 2: 120..249 — 120..149 re-arrive as cross-batch dupes
    val b1 = (0 until 150).flatMap(i => if (i % 10 == 0) Seq(doc(i), doc(i)) else Seq(doc(i)))
    val b2 = (120 until 250).map(doc)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val q = mem.toDF().toDF("doc_id", "ts", "source", "text")
      .withWatermark("ts", "60 minutes")
      .dropDuplicatesWithinWatermark("doc_id")
      .withColumn("w", split(lower(trim($"text")), " "))
      .withColumn("n_words", size($"w"))
      .withColumn("dup_frac",
        lit(1.0) - size(array_distinct($"w")).cast("double") / size($"w"))
      .withColumn("kept", $"n_words" >= 5 && $"dup_frac" <= 0.3)
      .select($"doc_id", $"source", $"kept")
      .writeStream.format("memory").queryName("q_stream_pipeline_out")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    sinkRows(spark, demo, "q_stream_pipeline_out")
      .groupBy($"source", $"kept")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"source", $"kept")
  }

  /** Sequential conversion funnel over the event stream: of the users
    * who ever VIEWed, how many later CLICKed, and of those how many
    * later PURCHASEd — strictly ordered (each stage's timestamp must
    * exceed the previous stage's), the product-analytics query every
    * event warehouse runs. Plan at 100 TB: each stage is a pushed-
    * filter scan + groupBy(user_id) min — three shuffles all keyed on
    * user_id, so a co-partitioned exchange reuse / storage-bucketed
    * layout makes stages 2-3 shuffle-free; per-stage frames are
    * per-user (small) and the final rollup is 3 rows. */
  def tsFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // The whole funnel rides ONE user-keyed exchange (guide §2.4, r21):
    // the stage-per-frame shape re-derived the events lineage 6× (each
    // uncached stage embedded the prior stages' joins and groupBys —
    // 6 scans, 3 stage exchanges and their recomputation). Three
    // CHAINED full-partition window mins express the same sequential
    // dependency — t2 reads t1 from the previous window on the same
    // partitioning, so no extra exchange — and the stage counts fall
    // out of one metadata-scale rollup. A stage nobody reached emits
    // no row, exactly as the per-stage groupBys did.
    val w = Window.partitionBy($"user_id")
    val staged = Fixtures.events(spark, sfDir)
      .select($"user_id", $"event_type", $"ts")
      .withColumn("t1", min(when($"event_type" === "view", $"ts")).over(w))
      .withColumn("t2", min(when($"event_type" === "click" && $"ts" > $"t1",
        $"ts")).over(w))
      .withColumn("t3", min(when($"event_type" === "purchase" && $"ts" > $"t2",
        $"ts")).over(w))
      .groupBy($"user_id")
      .agg(max($"t1").as("t1"), max($"t2").as("t2"), max($"t3").as("t3"))
      .agg(sum(when($"t1".isNotNull, 1L)).as("n1"),
        sum(when($"t2".isNotNull, 1L)).as("n2"),
        sum(when($"t3".isNotNull, 1L)).as("n3"))
    staged
      .select(explode(array(
        struct(lit("1_view").as("stage"), coalesce($"n1", lit(0L)).as("n_users")),
        struct(lit("2_click").as("stage"), coalesce($"n2", lit(0L)).as("n_users")),
        struct(lit("3_purchase").as("stage"), coalesce($"n3", lit(0L)).as("n_users")))).as("s"))
      .select($"s.stage", $"s.n_users")
      .filter($"n_users" > 0)
      .withColumn("reach_rate",
        round($"n_users".cast("double") /
          max($"n_users").over(Window.partitionBy()), 4))
      .orderBy($"stage")
  }

  val tsFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      |  WHERE e.event_type = 'purchase' GROUP BY 1),
      |u AS (
      |  SELECT '1_view' AS stage, user_id FROM v
      |  UNION ALL SELECT '2_click', user_id FROM c
      |  UNION ALL SELECT '3_purchase', user_id FROM p)
      |SELECT stage, count(*) AS n_users,
      |  round(CAST(count(*) AS DOUBLE) / max(count(*)) OVER (), 4) AS reach_rate
      |FROM u GROUP BY stage ORDER BY stage""".stripMargin

  /** MinHash near-dup detection ON ARRIVAL — the streaming twin of the
    * batch LSH path, as a REAL two-micro-batch run over the documents
    * corpus: each arriving doc is banded into LSH buckets
    * (`flatMapGroupsWithState` keyed on (band, bucket)), compared
    * against the signatures its buckets already hold, and flagged at
    * signature-estimate ≥ τ — the admit/reject verdict a continuous
    * ingest pipeline needs AT arrival, not after a nightly join. See
    * [[graft.streaming.StreamMinHash]] for the state/scale contract
    * (≈400 B per doc per bucket, Σ(bucket)² pair work, capped
    * buckets). Output: per-source arrivals vs flagged near-dups.
    * NATIVE (StreamMinHashSpec: exact equality with a driver-side
    * arrival-order replica, batch-split invariance, planted-dup
    * recall, re-delivery idempotence). */
  def streamDedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.streaming.StreamMinHash
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val docs = Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val half = docs.length / 2
    val mem = MemoryStream[(Long, String, String)]
    val q = mem.toDS()
      .flatMap { case (id, src, text) => StreamMinHash.bandRows(id, src, text) }
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(StreamMinHash.matcher)
      .writeStream.format("memory").queryName("q_stream_dedup_minhash_out")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(half): _*); q.processAllAvailable()
      mem.addData(docs.drop(half): _*); q.processAllAvailable()
    } finally q.stop()
    // per-doc verdict = any band flagged it (bands agree on the
    // signature estimate; distinct collapses the multiplicity)
    val flagged = sinkRows(spark, demo, "q_stream_dedup_minhash_out")
      .select($"docId".as("doc_id"), $"source").distinct()
      .groupBy($"source").agg(count(lit(1)).as("n_flagged"))
    spark.createDataset(docs.toSeq).toDF("doc_id", "source", "text")
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(flagged, Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"n_flagged", lit(0L)).as("n_flagged"))
      .orderBy($"source")
  }

  /** Streaming heavy hitters — Misra–Gries summaries as keyed state
    * over the REAL events corpus (two micro-batches in ts order):
    * per event_type, k=8 counters answer "who are the frequent
    * user_ids and with what deterministic bound" AT INGEST, in O(k)
    * state per key on an unbounded stream — the streaming twin of the
    * batch Count-Min rollup (q_agg_cms). Output: the final summary's
    * candidates with their floor estimates and the n/(k+1) error
    * bound. NATIVE (HeavyHitterSpec: the Misra–Gries guarantee under
    * any batch split, exact equality with a single-pass replica,
    * planted-skew recovery). */
  def streamHeavy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import graft.streaming.HeavyHitters
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val ev = Fixtures.events(spark, sfDir)
      .select($"ts", $"event_id", $"event_type", $"user_id")
      .as[(java.sql.Timestamp, Long, String, Long)]
      .collect().sortBy(r => (r._1.getTime, r._2))
      .map(r => (r._3, r._4))
    val half = ev.length / 2
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(HeavyHitters.matcher)
      .writeStream.format("memory").queryName("q_stream_heavy_out")
      .outputMode("update").start()
    try {
      mem.addData(ev.take(half): _*); q.processAllAvailable()
      mem.addData(ev.drop(half): _*); q.processAllAvailable()
    } finally q.stop()
    val w = Window.partitionBy($"group").orderBy(desc("seq"))
    sinkRows(spark, demo, "q_stream_heavy_out")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"group".as("event_type"), $"n",
        posexplode(arrays_zip($"ids", $"counts")))
      .select($"event_type", $"col.ids".as("user_id"),
        $"col.counts".as("est"), $"n",
        ($"n" / (HeavyHitters.K + 1)).cast("long").as("max_undercount"))
      .orderBy($"event_type", desc("est"), $"user_id")
  }

  /** Streaming prequential anomaly detection — Welford running
    * moments as O(1)-per-key state over the REAL events corpus in ts
    * order (three micro-batches): each value is z-scored against its
    * event_type's statistics BEFORE updating them (test-then-train,
    * so anomaly bursts cannot mask themselves), flagged at |z| > 3
    * after a 30-arrival warm-up. Every ~97th event's value is
    * amplified ×8 — a deterministic plant so the corpus carries
    * true anomalies. Output: per event_type arrivals vs flags vs
    * recovered plants. NATIVE (StreamAnomalySpec: exact equality
    * with a sequential driver replica, micro-batch-split INVARIANCE
    * — prequential folds have no split-dependent content — and
    * planted-anomaly recovery). */
  def streamAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.streaming.StreamAnomaly
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val ev = Fixtures.events(spark, sfDir)
      .select($"ts", $"event_id", $"event_type", $"value")
      .as[(java.sql.Timestamp, Long, String, Double)]
      .collect().sortBy(r => (r._1.getTime, r._2))
      .map(r => (r._3, r._1.getTime, r._2,
        if (r._2 % 97 == 0) r._4 * 8.0 else r._4))
    val third = ev.length / 3
    val mem = MemoryStream[(String, Long, Long, Double)]
    val q = mem.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(StreamAnomaly.matcher)
      .writeStream.format("memory").queryName("q_stream_anomaly_out")
      .outputMode("append").start()
    try {
      mem.addData(ev.take(third): _*); q.processAllAvailable()
      mem.addData(ev.slice(third, 2 * third): _*); q.processAllAvailable()
      mem.addData(ev.drop(2 * third): _*); q.processAllAvailable()
    } finally q.stop()
    val flags = sinkRows(spark, demo, "q_stream_anomaly_out")
      .groupBy($"key".as("event_type"))
      .agg(count(lit(1)).as("n_flagged"),
        sum(when($"eventId" % 97 === 0, 1L).otherwise(0L))
          .as("n_planted_caught"),
        round(max(abs($"z")), 4).as("max_abs_z"))
    spark.createDataset(ev.toSeq).toDF("event_type", "ts_ms", "event_id", "value")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"event_id" % 97 === 0, 1L).otherwise(0L)).as("n_planted"))
      .join(flags, Seq("event_type"), "left")
      .select($"event_type", $"n_events", $"n_planted",
        coalesce($"n_flagged", lit(0L)).as("n_flagged"),
        coalesce($"n_planted_caught", lit(0L)).as("n_planted_caught"),
        coalesce($"max_abs_z", lit(0.0)).as("max_abs_z"))
      .orderBy($"event_type")
  }

  /** Streaming SCD2 maintenance — the live twin of the ORACLE-checked
    * batch dimension build (q_scd2_build): per user, O(1) keyed state
    * closes the open validity interval and opens the next AS CHANGES
    * ARRIVE (three micro-batches of the real events corpus in ts
    * order), with the batch side's equal-ts max_by tie rule mirrored
    * so the fold is split-safe. Output: the final per-user summary —
    * versions, exact closed-validity µs, current value, point-in-time
    * coverage. NATIVE (Scd2StreamSpec: EXACT equality with
    * q_scd2_build's collected output on the same corpus, plus
    * batch-split invariance). */
  def streamScd2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import graft.streaming.Scd2State
    val demo = demoSession(spark)
    implicit val sqlCtx = demo.sqlContext
    val ev = Fixtures.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        $"value")
      .as[(Long, Long, Long, Double)]
      .collect().sortBy(r => (r._2, r._3))
    val third = ev.length / 3
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = mem.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(Scd2State.matcher)
      .writeStream.format("memory").queryName("q_stream_scd2_out")
      .outputMode("update").start()
    try {
      mem.addData(ev.take(third): _*); q.processAllAvailable()
      mem.addData(ev.slice(third, 2 * third): _*); q.processAllAvailable()
      mem.addData(ev.drop(2 * third): _*); q.processAllAvailable()
    } finally q.stop()
    val w = Window.partitionBy($"userId").orderBy(desc("seq"))
    sinkRows(spark, demo, "q_stream_scd2_out")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"userId".as("user_id"), $"nVersions".as("n_versions"),
        $"closedUs".as("closed_us"),
        round($"currentValue", 4).as("current_value"),
        $"coversT0".as("covers_t0"))
      .orderBy($"user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_scd2" -> (streamScd2 _),
    "q_stream_anomaly" -> (streamAnomaly _),
    "q_stream_heavy" -> (streamHeavy _),
    "q_stream_dedup_minhash" -> (streamDedupMinhash _),
    "q_stream_pipeline" -> (streamPipeline _),
    "q_ts_funnel" -> (tsFunnel _),
    "q_win_rank" -> (winRank _),
    "q_win_ntile" -> (winNtile _),
    "q_win_lag" -> (winLag _),
    "q_win_prefix" -> (winPrefix _),
    "q_win_range_frame" -> (winRangeFrame _),
    "q_win_first_last" -> (winFirstLast _),
    "q_ts_gapfill" -> (tsGapfill _),
    "q_win_rolling_median" -> (winRollingMedian _),
    "q_stream_tumble" -> (streamTumble _),
    "q_stream_slide" -> (streamSlide _),
    "q_stream_session" -> (streamSession _),
    "q_stream_watermark" -> (streamWatermark _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_custom_state" -> (streamCustomState _),
    "q_stream_upsert" -> (streamUpsert _),
    "q_stream_quantile" -> (streamQuantile _),
    "q_stream_join" -> (streamJoin _),
    "q_stream_recovery" -> (streamRecovery _))

  val oracle: Map[String, String] = Map(
    "q_ts_funnel" -> tsFunnelSql,
    "q_win_rank" -> winRankSql,
    "q_win_ntile" -> winNtileSql,
    "q_win_lag" -> winLagSql,
    "q_win_prefix" -> winPrefixSql,
    "q_win_range_frame" -> winRangeFrameSql,
    "q_win_first_last" -> winFirstLastSql,
    "q_ts_gapfill" -> tsGapfillSql,
    "q_win_rolling_median" -> winRollingMedianSql,
    "q_stream_tumble" -> streamTumbleSql,
    "q_stream_slide" -> streamSlideSql,
    "q_stream_session" -> streamSessionSql)
}
