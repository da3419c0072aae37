package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Fixtures

/** Join surface (SURVEY.md §2.2 join rows).
  *
  * Scale notes (the point of each shape at 100 TB):
  *  - broadcast: dims (part/nation) stay broadcast-able at any fact scale;
  *    `broadcast()` hint pins the strategy so no sort-merge shuffle of the
  *    fact side ever happens.
  *  - 3-way: fact-fact joins shuffle on their keys once; Catalyst orders
  *    the joins and AQE handles skew at runtime.
  *  - range: banded equi-join (explode to band keys) turns an O(n²) theta
  *    join into a shuffle join — the same trick as the reference's halo
  *    neighbor-key join (reference ccog/ccog.py:614-616).
  *  - as-of: union + ordered window (single shuffle on user key), never a
  *    per-row backward scan.
  */
object JoinQueries {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Broadcast hash join: lineitem ⋈ tiny part dim, revenue per brand. */
  def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Fixtures.lineitem(spark, sfDir)
    val p = Fixtures.part(spark, sfDir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "inner")
      .groupBy($"p_brand")
      .agg(
        sum(dec($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec($"l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"p_brand")
  }

  val joinBroadcastSql: String =
    """SELECT p_brand,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** TPC-H Q3 shape: 3-way shuffle join + agg + top-k. */
  def join3way(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Fixtures.customer(spark, sfDir).filter($"c_mktsegment" === "BUILDING")
    val o = Fixtures.orders(spark, sfDir)
    val li = Fixtures.lineitem(spark, sfDir)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg(sum(dec($"l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(20)
  }

  val join3waySql: String =
    """SELECT o_orderkey, o_orderdate,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin

  /** Left outer join with null accounting (zip_longest analog,
    * reference ccog/ccog.py:187,711): orders ⟕ high-quantity lineitems. */
  def joinLeft(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Fixtures.orders(spark, sfDir)
    val big = Fixtures.lineitem(spark, sfDir).filter($"l_quantity" >= 45)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"l_orderkey").as("n_matched"),
        sum(when($"l_orderkey".isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy($"o_orderpriority")
  }

  val joinLeftSql: String =
    """SELECT o_orderpriority, count(*) AS n_rows,
      |  count(l_orderkey) AS n_matched,
      |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
      |FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 45) li
      |  ON o_orderkey = li.l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Left semi: customers that have at least one urgent order. */
  def joinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Fixtures.customer(spark, sfDir)
    val urgent = Fixtures.orders(spark, sfDir).filter($"o_orderpriority" === "1-URGENT")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Left anti: customers with no orders at all (skip-empty analog,
    * reference ccog/aws_tools.py:139-143). */
  def joinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Fixtures.customer(spark, sfDir)
    val o = Fixtures.orders(spark, sfDir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Bounded-inequality (range) self-join, banded to an equi-join:
    * pairs of same-type events with |v1-v2| < eps. Each left row is
    * exploded to its band and band+1 so every qualifying pair meets in
    * exactly one shuffle bucket — the neighbor-key trick of the halo
    * join (reference ccog/ccog.py:614-616). Output is aggregated so the
    * result stays small at every SF. */
  def joinRange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val eps = 0.02
    val e = Fixtures.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
    val lhs = e
      .withColumn("band", explode(array(
        floor($"value" / eps) - 1, floor($"value" / eps), floor($"value" / eps) + 1)))
      .select($"event_id".as("id1"), $"event_type", $"value".as("v1"), $"band")
    val rhs = e
      .withColumn("band", floor($"value" / eps))
      .select($"event_id".as("id2"), $"event_type", $"value".as("v2"), $"band")
    // event_type is an equi-predicate: in the join key (not a post-filter)
    // so each shuffle bucket is (band, type)-pure — ~5× less join input.
    lhs.join(rhs, Seq("band", "event_type"))
      .filter($"id1" < $"id2" && abs($"v1" - $"v2") < eps)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(abs($"v1" - $"v2")), 4).as("sum_absdiff"))
      .orderBy($"event_type")
  }

  val joinRangeSql: String =
    """SELECT a.event_type AS event_type, count(*) AS n_pairs,
      |  round(sum(abs(a.value - b.value)), 4) AS sum_absdiff
      |FROM events a JOIN events b
      |  ON a.event_type = b.event_type AND a.event_id < b.event_id
      | AND abs(a.value - b.value) < 0.02
      |GROUP BY a.event_type ORDER BY event_type""".stripMargin

  /** As-of join: for every click, the value of the same user's latest
    * view at-or-before the click. Spark-first plan: union both sides,
    * one window over (user, ts) carrying the last view forward — a
    * single shuffle, no per-row backward scan (contrast the reference's
    * runtime merge tree, ccog/aws_tools.py:201-218). Views sort before
    * clicks at equal ts to match ASOF's <= semantics. */
  def joinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Fixtures.events(spark, sfDir)
    // Views are pre-reduced to one row per (user_id, ts) with a
    // deterministic representative (value of the max event_id) — after
    // ns→µs truncation two views can share a ts, and both Spark's last()
    // and DuckDB's ASOF pick an arbitrary tied row otherwise.
    val views = e.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts")
      .agg(max_by($"value", $"event_id").as("view_value"))
    val clicks = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    graft.operators.AsOfJoin.leftAsOf(clicks, views,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        valueCols = Seq("view_value"))
      .select($"event_id", $"user_id",
        round($"view_value", 4).as("prior_view_value"))
      .orderBy($"event_id")
  }

  val joinAsofSql: String =
    """SELECT c.event_id AS event_id, c.user_id AS user_id,
      |  round(v.value, 4) AS prior_view_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (
      |  SELECT user_id, ts, arg_max(value, event_id) AS value
      |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
      |  ON c.user_id = v.user_id AND v.ts <= c.ts
      |ORDER BY event_id""".stripMargin

  /** Full outer: both unmatched sides survive — customers with no
    * urgent orders AND (synthetically-keyed) urgent orders with no
    * customer row in the filtered dim. One shuffle on the key; the
    * matched/left-only/right-only row accounting is the classic
    * reconciliation query shape. */
  def joinFull(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // both sides filtered so BOTH have unmatched keys
    val c = Fixtures.customer(spark, sfDir).filter($"c_acctbal" > 0)
    val o = Fixtures.orders(spark, sfDir).filter($"o_orderpriority" === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "full")
      .groupBy()
      .agg(
        sum(when(c("c_custkey").isNotNull && o("o_custkey").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(o("o_custkey").isNull, 1L).otherwise(0L)).as("n_left_only"),
        sum(when(c("c_custkey").isNull, 1L).otherwise(0L)).as("n_right_only"))
  }

  val joinFullSql: String =
    """SELECT
      |  CAST(sum(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
      |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only
      |FROM (SELECT * FROM customer WHERE c_acctbal > 0) c
      |FULL JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
      |  ON c_custkey = o_custkey""".stripMargin

  /** MERGE / upsert, lowered the way every engine without a MERGE verb
    * (and Delta/Iceberg inside) executes it: ONE full outer join of the
    * current snapshot against a deduped change set, then CASE per row —
    * update / insert / delete / keep. The change set is derived
    * deterministically from the fixtures (updates = urgent-order
    * customers, deletes = custkey % 97, inserts = shifted new keys) and
    * is unique per key by construction — the precondition MERGE
    * requires. One shuffle on the merge key at any scale; the output
    * aggregates per action so the compare stays tight. DECIMAL
    * arithmetic for the updated balances. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    Fixtures.customer(spark, sfDir).createOrReplaceTempView("graft_mg_customer")
    Fixtures.orders(spark, sfDir).createOrReplaceTempView("graft_mg_orders")
    spark.sql(mergeUpsertBody("graft_mg_customer", "graft_mg_orders", "STRING"))
  }

  /** Shared SQL body — engines differ only in table names and the null
    * string type keyword (Spark STRING, DuckDB VARCHAR). */
  private def mergeUpsertBody(customer: String, orders: String,
      strTy: String): String =
    s"""WITH up AS (
       |  SELECT DISTINCT c_custkey AS k
       |  FROM $customer JOIN $orders ON o_custkey = c_custkey
       |  WHERE o_orderpriority = '1-URGENT' AND c_custkey % 97 <> 0),
       |del AS (SELECT c_custkey AS k FROM $customer WHERE c_custkey % 97 = 0),
       |ins AS (
       |  -- negated keys: custkeys are positive at every SF, so the
       |  -- synthetic insert keys can never collide with an existing
       |  -- customer (a fixed +1000000 shift collides once SF >= 7)
       |  SELECT -(c_custkey + 1000000) AS k, 'NEWSEG' AS seg,
       |    CAST(c_custkey % 1000 AS DOUBLE) AS bal
       |  FROM $customer WHERE c_custkey % 101 = 0),
       |changes AS (
       |  SELECT k, 'U' AS op, CAST(NULL AS $strTy) AS seg,
       |    CAST(NULL AS DOUBLE) AS bal FROM up
       |  UNION ALL
       |  SELECT k, 'D', CAST(NULL AS $strTy), CAST(NULL AS DOUBLE) FROM del
       |  UNION ALL
       |  SELECT k, 'I', seg, bal FROM ins),
       |merged AS (
       |  SELECT coalesce(c.c_custkey, ch.k) AS custkey,
       |    CASE WHEN ch.op = 'I' THEN ch.seg ELSE c.c_mktsegment END AS segment,
       |    CASE WHEN ch.op = 'U'
       |           THEN CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) + 100 AS DOUBLE)
       |         WHEN ch.op = 'I' THEN ch.bal
       |         ELSE c.c_acctbal END AS acctbal,
       |    coalesce(ch.op, 'K') AS action
       |  FROM $customer c FULL OUTER JOIN changes ch ON c.c_custkey = ch.k
       |  WHERE coalesce(ch.op, 'K') <> 'D')
       |SELECT action, count(*) AS n,
       |  CAST(sum(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
       |FROM merged GROUP BY action ORDER BY action""".stripMargin

  val mergeUpsertSql: String = mergeUpsertBody("customer", "orders", "VARCHAR")

  /** Skew-salted join surfaced as a query: user_id % 7 == 0 collapses
    * to one synthetic HOT key (every 7th event piles onto key 0 — the
    * celebrity-key shape), and the join runs through
    * [[graft.operators.SaltedJoin]]: hot left rows spread across 8
    * sub-keys, only the matching right rows replicate 8×, so no single
    * reducer receives the whole hot key's rows. The DuckDB oracle runs
    * the PLAIN join — hash-matching it proves salting is
    * semantics-preserving, which is the entire point of the rewrite
    * (AQE's skew-join is the after-the-fact form; salting is the
    * deterministic one that also survives aggregation pushup). */
  def joinSalted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.SaltedJoin
    val left = Fixtures.events(spark, sfDir)
      .select(when($"user_id" % 7 === 0, 0L).otherwise($"user_id").as("k"),
        $"value")
    val right = left.select($"k").distinct()
      .withColumn("attr", pmod($"k", lit(100)).cast("long"))
    SaltedJoin.join(left, right, "k", hotKeys = Seq(0L), salts = 8)
      .groupBy($"k", $"attr")
      .agg(count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("sum_v"))
      .orderBy($"k")
  }

  val joinSaltedSql: String =
    """WITH l AS (
      |  SELECT CASE WHEN user_id % 7 = 0 THEN 0 ELSE user_id END AS k, value
      |  FROM events),
      |r AS (SELECT DISTINCT k, k % 100 AS attr FROM l)
      |SELECT l.k, r.attr, count(*) AS n,
      |  CAST(sum(CAST(l.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM l JOIN r ON l.k = r.k
      |GROUP BY l.k, r.attr ORDER BY l.k""".stripMargin

  /** Bucketed co-located join surfaced as a query: both sides are
    * written `bucketBy(8, orderkey)` + sorted, and the join + same-key
    * aggregation then run with ZERO shuffle Exchanges (asserted here
    * at execution, not just in BucketingSpec) — the pre-partitioning
    * strategy a 100 TB star schema uses so its hot join pays its
    * shuffle once at write time, never per query. A sort-merge hint
    * keeps the plan on the bucketed scans, where a broadcast of either
    * side would plan a BroadcastExchange (at real scale neither side
    * broadcasts anyway); executed eagerly so the plan assertion stays
    * inside this call. The DuckDB oracle runs the plain join — the
    * hash match proves bucketing is pure layout, zero semantics. */
  // one bucketed warehouse per (session, sfDir): the bucketed tables
  // are pure LAYOUT — writing them is the once-at-ingest shuffle a
  // 100 TB star schema pays at write time, never per query. Without
  // memoization every joinBucketed call (bench, verify, repeated
  // notebook use) re-paid both bucketed writes, ~90% of the measured
  // time; now only the first call per JVM writes, and the bench
  // measures the zero-Exchange join itself.
  private val bucketedWarehouse =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Returns the table-name suffix for this (session, sfDir)'s bucketed
    * tables, writing them on first use. Distinct sfDirs get distinct
    * table names so two scale factors in one JVM never clobber each
    * other's layout. */
  private def ensureBucketedTables(spark: SparkSession, sfDir: String): String =
    bucketedWarehouse.computeIfAbsent((spark, sfDir), { case (s, d) =>
      // MD5 of the full path: hashCode alone can collide across two
      // sfDirs in one JVM, silently serving one dataset for both
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val wh = graft.TmpDirs.create("graft_bktq")
      Fixtures.orders(s, d)
        .write.mode("overwrite").option("path", s"$wh/o")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"graft_bktq_orders_$sfx")
      // a quarter of the fact side: the zero-Exchange demonstration is
      // layout-shaped, not volume-shaped
      Fixtures.lineitem(s, d)
        .filter(col("l_orderkey") % 4 === 0)
        .write.mode("overwrite").option("path", s"$wh/l")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"graft_bktq_lineitem_$sfx")
      sfx
    })

  def joinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sfx = ensureBucketedTables(spark, sfDir)
    val perOrder = spark.table(s"graft_bktq_orders_$sfx").hint("merge")
      .join(spark.table(s"graft_bktq_lineitem_$sfx"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderstatus")
      .agg(sum(dec($"l_quantity")).as("qty"))
    val plan = perOrder.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange"),
      s"bucketed join planned a shuffle:\n$plan")
    val rows = perOrder
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum($"qty").cast("double").as("sum_qty"))
      .orderBy($"o_orderstatus")
      .as[(String, Long, Double)].collect().toSeq
    rows.toDF("o_orderstatus", "n_orders", "sum_qty")
  }

  val joinBucketedSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(qty) AS DOUBLE) AS sum_qty
      |FROM (
      |  SELECT o_orderkey, o_orderstatus,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE l_orderkey % 4 = 0
      |  GROUP BY o_orderkey, o_orderstatus)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  private val dppWarehouse =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Stage the date-partitioned fact layout + a parquet dim table at
    * the FIXED `dpp` staging path (survives JVM exit:
    * q_scan_inventory's DuckDB twin re-reads these very footers in a
    * later process). Memoized per (session, sfDir) like the bucketed
    * warehouse, BUT the path is name-only, so a request for a
    * DIFFERENT sfDir in the same JVM evicts the memo and RE-STAGES —
    * last-writer-wins, the standard fixed-path ordering contract;
    * without the eviction a second sfDir would silently read the
    * first one's files. The dim is WRITTEN AND READ BACK on purpose:
    * a literal local dim gets its selective filter constant-folded
    * into the LocalRelation and DPP never fires (the
    * RuntimeFilterSpec lesson). */
  private[queries] def ensureDppLayout(spark: SparkSession, sfDir: String): String =
    graft.TmpDirs.stagedMemo(dppWarehouse, (spark, sfDir)) { case (s, d) =>
      val base = graft.TmpDirs.fixed("dpp")
      Fixtures.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year")
        .parquet(s"$base/orders")
      Fixtures.orders(s, d)
        .select(year(col("o_orderdate")).as("o_year")).distinct()
        // a LITERAL comparison, not a bare boolean column: Spark's
        // PartitionPruning only inserts the DPP subquery when the dim
        // filter is "likely selective" (EqualTo/In/Like on a literal);
        // a naked BooleanType attribute fails that heuristic silently
        .withColumn("status",
          when(col("o_year") === 1995, "target").otherwise("other"))
        .write.mode("overwrite").parquet(s"$base/years")
      base
    }

  /** Dynamic partition pruning — THE scan-elision mechanism for a
    * date-partitioned 100 TB fact table: the fact side is laid out
    * `partitionBy(o_year)`, the dim side carries the selective
    * predicate (`is_target`, one year), and Spark turns the
    * broadcast dim into a runtime IN-filter on the fact's partition
    * column, so only the matching year's files are ever read —
    * pruning that static predicate pushdown cannot do because the
    * year list only exists at runtime. PlanShapeSpec pins the
    * `dynamicpruning` subquery in the fact scan; the oracle computes
    * the same rollup from the unpartitioned base table. */
  def joinDpp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = ensureDppLayout(spark, sfDir)
    val fact = spark.read.parquet(s"$base/orders")
    val dim = spark.read.parquet(s"$base/years")
      .filter($"status" === "target")
    fact.join(broadcast(dim), Seq("o_year"))
      .groupBy($"o_year", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy($"o_year", $"o_orderpriority")
  }

  val joinDppSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE year(o_orderdate) = 1995
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Point-in-time feature assembly — the FEATURE-STORE correctness
    * shape: each label (click) is joined against TWO feature streams
    * with independent update cadences (latest prior view value,
    * latest prior purchase value), each as-of the label's timestamp —
    * never a value from the future, the leakage rule a training-set
    * builder must hold per feature. Composition of the AsOfJoin
    * operator (one shuffle pair per feature stream, keyed on user);
    * the DuckDB twin is two ASOF JOINs. */
  def joinPit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Fixtures.events(spark, sfDir)
    def feature(kind: String, out: String) =
      e.filter($"event_type" === kind)
        .groupBy($"user_id", $"ts")
        .agg(max_by($"value", $"event_id").as(out))
    val labels = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val withView = graft.operators.AsOfJoin.leftAsOf(
      labels, feature("view", "f_view"),
      keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
      valueCols = Seq("f_view"))
    val withBoth = graft.operators.AsOfJoin.leftAsOf(
      withView, feature("purchase", "f_purchase"),
      keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
      valueCols = Seq("f_purchase"))
    withBoth
      .select($"event_id", $"user_id",
        round($"f_view", 4).as("f_view"),
        round($"f_purchase", 4).as("f_purchase"))
      .orderBy($"event_id")
  }

  val joinPitSql: String =
    """WITH v AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    max_by(value, event_id) AS f_view
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    max_by(value, event_id) AS f_purchase
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |l AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'click')
      |SELECT l.event_id, l.user_id,
      |  round(v.f_view, 4) AS f_view,
      |  round(p.f_purchase, 4) AS f_purchase
      |FROM l
      |ASOF LEFT JOIN v ON l.user_id = v.user_id AND l.ts >= v.ts
      |ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts
      |ORDER BY l.event_id""".stripMargin

  /** Bloom-pruned join — the semi-join reduction for a fact⋈selective-
    * dim at 100 TB: the dim keys ride to the fact side as a 1%-FPP
    * Bloom filter (MBs where the key set is GBs), the fact pre-filters
    * BEFORE its shuffle (≈99% of shuffled bytes never move), and the
    * exact join afterwards removes the false positives — so the
    * result is BIT-IDENTICAL to the plain join, which is exactly what
    * the oracle checks (the q_join_salted proof pattern: the rewrite
    * must be invisible in the answer). Spark's own InjectRuntimeFilter
    * does this automatically for some plans; the explicit form covers
    * the shapes it declines and makes the mechanism testable. */
  def joinBloom(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = Fixtures.orders(spark, sfDir)
      .filter($"o_orderpriority" === "1-URGENT" &&
        year($"o_orderdate") === 1995)
      .select($"o_orderkey", $"o_orderdate")
      // two ACTIONS consume the dim here (sizing count + bloom build):
      // persist across them, then release — the exact join at the end
      // re-reads the dim once at execution time, so the total is two
      // dim scans instead of three, with nothing left pinned
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = dim.stat.bloomFilter("o_orderkey",
      math.max(dim.count(), 1L), 0.01)
    dim.unpersist(blocking = false)
    val bc = spark.sparkContext.broadcast(bloom)
    val fact = Fixtures.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_extendedprice", $"l_returnflag")
      .filter(r => bc.value.mightContainLong(r.getLong(0)))
    fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(dec($"l_extendedprice")).cast("double").as("revenue"))
      .orderBy($"l_returnflag")
  }

  val joinBloomSql: String =
    """SELECT l_returnflag, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Skew-safe as-of join — the composition SURVEY §7.1b promised
    * (SaltedJoin's problem × AsOfJoin's semantics): every 7th event
    * collapses onto one synthetic hot user, whose timeline would
    * serialize the plain as-of's ordered window into a single
    * straggler task; the segmented operator splits it by hour bucket
    * (a PURE function of ts — sampled range boundaries would be
    * run-dependent) and merges carry-ins in a segments-scale second
    * pass. The DuckDB oracle runs the PLAIN ASOF JOIN, so the hash
    * match proves the segmentation is semantics-invisible — the
    * q_join_salted proof pattern. */
  def joinAsofSalted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Fixtures.events(spark, sfDir)
      .withColumn("user_id",
        when($"event_id" % 7 === 0, lit(999999L)).otherwise($"user_id"))
    val views = e.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts")
      .agg(max_by($"value", $"event_id").as("view_value"))
    val clicks = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    graft.operators.AsOfJoin.leftAsOfSegmented(clicks, views,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        valueCols = Seq("view_value"))(
        t => floor(unix_micros(t) / lit(3600000000L)).cast("long"))
      .select($"event_id", $"user_id",
        round($"view_value", 4).as("prior_view_value"))
      .orderBy($"event_id")
  }

  val joinAsofSaltedSql: String =
    """WITH e AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN 999999 ELSE user_id END AS user_id,
      |    CAST(ts AS TIMESTAMP) AS ts, event_type, value
      |  FROM events),
      |v AS (
      |  SELECT user_id, ts, max_by(value, event_id) AS view_value
      |  FROM e WHERE event_type = 'view' GROUP BY 1, 2),
      |l AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click')
      |SELECT l.event_id, l.user_id,
      |  round(v.view_value, 4) AS prior_view_value
      |FROM l ASOF LEFT JOIN v ON l.user_id = v.user_id AND l.ts >= v.ts
      |ORDER BY l.event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_asof_salted" -> (joinAsofSalted _),
    "q_join_bloom" -> (joinBloom _),
    "q_join_pit" -> (joinPit _),
    "q_join_dpp" -> (joinDpp _),
    "q_merge_upsert" -> (mergeUpsert _),
    "q_join_salted" -> (joinSalted _),
    "q_join_bucketed" -> (joinBucketed _),
    "q_join_broadcast" -> (joinBroadcast _),
    "q_join_3way" -> (join3way _),
    "q_join_left" -> (joinLeft _),
    "q_join_full" -> (joinFull _),
    "q_join_semi" -> (joinSemi _),
    "q_join_anti" -> (joinAnti _),
    "q_join_range" -> (joinRange _),
    "q_join_asof" -> (joinAsof _))

  val oracle: Map[String, String] = Map(
    "q_join_asof_salted" -> joinAsofSaltedSql,
    "q_join_bloom" -> joinBloomSql,
    "q_join_pit" -> joinPitSql,
    "q_join_dpp" -> joinDppSql,
    "q_merge_upsert" -> mergeUpsertSql,
    "q_join_salted" -> joinSaltedSql,
    "q_join_bucketed" -> joinBucketedSql,
    "q_join_broadcast" -> joinBroadcastSql,
    "q_join_3way" -> join3waySql,
    "q_join_left" -> joinLeftSql,
    "q_join_full" -> joinFullSql,
    "q_join_semi" -> joinSemiSql,
    "q_join_anti" -> joinAntiSql,
    "q_join_range" -> joinRangeSql,
    "q_join_asof" -> joinAsofSql)
}
