package graft

import graft.queries.AnalyticsQueries
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-16 analytics operators — the laws
  * behind the oracle rows (the DuckDB gate checks equivalence; these
  * check the answers MEAN what they claim). */
class AnalyticsQuerySpec extends SparkSpec {

  test("q_ts_retention: week 0 is the full cohort; retention never exceeds 1") {
    val rows = AnalyticsQueries.tsRetention(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (weekN, nUsers, nCohort, ret) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nUsers <= nCohort)
      assert(ret > 0.0 && ret <= 1.0)
      if (weekN == 0L) assert(nUsers == nCohort,
        "every cohort member is by definition active in their first week")
    }
    // cohort sizes partition the user population exactly once
    val users = Fixtures.events(spark, sfDir)
      .select(countDistinct("user_id")).first().getLong(0)
    val cohortTotal = rows.filter(_.getLong(1) == 0L).map(_.getLong(3)).sum
    assert(cohortTotal == users)
  }

  test("q_ts_transitions: rows per from-state normalize to ~1 and count every adjacent pair") {
    val rows = AnalyticsQueries.tsTransitions(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val psum = rs.map(_.getDouble(3)).sum
      assert(math.abs(psum - 1.0) < 0.002, s"row-stochastic violated: $psum")
    }
    val nPairs = rows.map(_.getLong(2)).sum
    val ev = Fixtures.events(spark, sfDir)
    val expected = ev.count() - ev.select(countDistinct("user_id")).first().getLong(0)
    assert(nPairs == expected, "each user contributes (events-1) transitions")
  }

  test("q_anomaly_mad: outliers exist on the heavy-tailed value column, rates consistent") {
    val rows = AnalyticsQueries.anomalyMad(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var totalN = 0L
    rows.foreach { r =>
      val (n, mad, nOut, rate) =
        (r.getLong(1), r.getDouble(3), r.getLong(4), r.getDouble(5))
      totalN += n
      assert(mad > 0.0)
      assert(nOut >= 0 && nOut < n)
      assert(math.abs(rate - nOut.toDouble / n) < 1e-3)
    }
    assert(totalN == Fixtures.events(spark, sfDir).count())
    assert(rows.map(_.getLong(4)).sum > 0, "fixture tail should produce outliers")
  }

  test("q_agg_incremental: partial-merge result equals a direct one-pass recompute") {
    import spark.implicits._
    val merged = AnalyticsQueries.aggIncremental(spark, sfDir).collect()
    val direct = Fixtures.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("total"),
        min($"value").as("vmin"), max($"value").as("vmax"),
        round(sum($"value".cast("decimal(18,2)")).cast("double") /
          count(lit(1)), 4).as("vavg"))
      .orderBy($"event_type")
      .collect()
    assert(merged.toSeq == direct.toSeq)
  }

  test("q_join_fuzzy matches brute force over the fixture vocabulary") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val vocab = Fixtures.documents(spark, sfDir)
      .select(explode(expr(
        "filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)"))
        .as("term")).distinct().as[String].collect()
    val expected = (for {
      a <- vocab; b <- vocab if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    val got = AnalyticsQueries.joinFuzzy(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("q_text_classifier: distillation reaches high holdout accuracy on sf0.001") {
    val rows = AnalyticsQueries.textClassifier(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getLong(1)).sum
    val correct = rows.map(_.getLong(2)).sum
    assert(n > 0)
    assert(correct.toDouble / n >= 0.8,
      s"holdout accuracy ${correct.toDouble / n} on $n docs")
  }

  test("q_ts_sessionize: sessions partition the event stream; durations bounded by gaps") {
    val rows = AnalyticsQueries.tsSessionize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum == Fixtures.events(spark, sfDir).count(),
      "every event lands in exactly one session")
    rows.foreach { r =>
      val (sessN, nEvents, dur) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(sessN >= 1L)
      assert(dur >= 0L)
      // a session of n events with every internal gap <= 1800s
      assert(dur <= (nEvents - 1) * 1800L,
        s"session duration $dur exceeds ${nEvents - 1} max-length gaps")
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.toSeq == (1L to ids.length).toSeq, "contiguous session ids")
    }
  }

  test("q_join_interval: hour-bucket blocking equals the naive overlap join") {
    import spark.implicits._
    val rows = AnalyticsQueries.joinInterval(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 12)
    // brute-force recompute: sessions x incident hours, raw overlap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sess = Fixtures.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("gap", unix_timestamp($"ts") -
        unix_timestamp(lag($"ts", 1).over(w)))
      .withColumn("sess_n", sum(when($"gap".isNull || $"gap" > 1800, 1L)
        .otherwise(0L)).over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy($"user_id", $"sess_n")
      .agg(min(unix_timestamp($"ts")).as("smin"),
        max(unix_timestamp($"ts")).as("smax"))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    val incidents = Fixtures.events(spark, sfDir)
      .filter($"event_type" === "error")
      .groupBy(date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), $"h").limit(12)
      .select(unix_timestamp($"h"), $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = incidents.map { case (h, _) =>
      (h, sess.count { case (smin, smax) => smin < h + 3600 && smax >= h })
    }.filter(_._2 > 0).toMap
    val got = rows.map { r =>
      val h = java.time.LocalDateTime.parse(r.getString(0),
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        .toEpochSecond(java.time.ZoneOffset.UTC)
      (h, r.getLong(2).toInt)
    }.toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("q_scalar_vector: cosine bounded, norms positive, n-1 consecutive pairs") {
    val rows = AnalyticsQueries.scalarVector(spark, sfDir).collect()
    val n = Fixtures.embeddings(spark, sfDir).count()
    assert(rows.length.toLong == n - 1)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1)) <= 1.0001)
      assert(r.getDouble(2) > 0.0)
    }
  }

  test("q_agg_quantile_hist: monotone quantiles that are real data values; counts complete") {
    import spark.implicits._
    val rows = AnalyticsQueries.aggQuantileHist(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val values = Fixtures.events(spark, sfDir)
      .select($"event_type", $"value").as[(String, Double)].collect()
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).toSet) }
    var total = 0L
    rows.foreach { r =>
      val (et, n, p50, p95, p99) = (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))
      total += n
      assert(p50 <= p95 && p95 <= p99, "quantiles must be monotone")
      // nearest-rank on an exact fixed-point histogram returns an
      // OBSERVED value, never an interpolated one
      Seq(p50, p95, p99).foreach(p => assert(values(et).contains(p),
        s"$et quantile $p is not an observed value"))
    }
    assert(total == Fixtures.events(spark, sfDir).count(),
      "per-type totals must cover every event exactly once")
  }

  test("q_check_quality: clean fixture passes every rule; rules FIRE on planted violations") {
    import spark.implicits._
    val rows = AnalyticsQueries.checkQuality(spark, sfDir).collect()
    assert(rows.length == 6)
    rows.foreach(r => assert(r.getLong(1) == 0L,
      s"fixture should satisfy ${r.getString(0)}"))
    // the rule SHAPES must detect violations — prove on planted data
    // (an all-zero result would otherwise be indistinguishable from
    // rules that never fire)
    val badOrders = Seq((1L, 10L), (2L, 99L)).toDF("o_orderkey", "o_custkey")
    val customers = Seq(Tuple1(10L)).toDF("c_custkey")
    val orphans = badOrders.join(customers,
      badOrders("o_custkey") === customers("c_custkey"), "left_anti").count()
    assert(orphans == 1L, "referential rule must catch the orphan key")
    val dups = Seq(1L, 1L, 2L).toDF("doc_id")
      .groupBy($"doc_id").agg(count(lit(1)).as("c")).filter($"c" > 1).count()
    assert(dups == 1L, "uniqueness rule must catch the duplicate key")
  }

  test("q_sample_topk_hash: stable across repartitionings, k per group, hash-ordered") {
    val a = AnalyticsQueries.sampleTopkHash(spark, sfDir).collect()
    val b = AnalyticsQueries.sampleTopkHash(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq)
    a.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("q_drift_psi: PSI is non-negative, zero iff distributions identical") {
    val rows = AnalyticsQueries.driftPsi(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // PSI is a symmetrized KL-style divergence: each term
      // (p2-p1)·ln(p2/p1) is >= 0 because the factors share sign
      assert(r.getDouble(3) >= 0.0, s"${r.getString(0)} psi negative")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    }
    // closed form: identical halves → psi 0 (checked on a planted frame)
    import spark.implicits._
    val c1 = Seq((10L, 10L), (20L, 20L), (5L, 5L))
    val psi = c1.map { case (a, b) =>
      val n1 = c1.map(_._1).sum + c1.size
      val n2 = c1.map(_._2).sum + c1.size
      val p1 = (a + 1).toDouble / n1
      val p2 = (b + 1).toDouble / n2
      (p2 - p1) * math.log(p2 / p1)
    }.sum
    assert(math.abs(psi) < 1e-12)
  }

  test("q_agg_mode: the mode really is the max count, tie-broken by value") {
    import spark.implicits._
    val rows = AnalyticsQueries.aggMode(spark, sfDir).collect()
    val counts = Fixtures.orders(spark, sfDir)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    rows.foreach { r =>
      val (prio, mode, n) = (r.getString(0), r.getString(1), r.getLong(2))
      val groupCounts = counts.filter(_._1._1 == prio)
      assert(n == groupCounts.values.max)
      val winners = groupCounts.filter(_._2 == n).keys.map(_._2)
      assert(mode == winners.min, "ties break to the smallest value")
    }
  }

  test("q_ts_islands: islands partition active days into maximal consecutive runs") {
    import spark.implicits._
    val rows = AnalyticsQueries.tsIslands(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val activeDays = Fixtures.events(spark, sfDir)
      .select($"user_id",
        datediff(to_date($"ts"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .distinct().count()
    assert(rows.map(_.getLong(3)).sum == activeDays,
      "every active day lands in exactly one island")
    rows.foreach { r =>
      assert(r.getLong(2) - r.getLong(1) + 1 == r.getLong(3),
        "island span equals its day count — i.e. runs are CONSECUTIVE")
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      rs.sortBy(_.getLong(1)).sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(1) > a.getLong(2) + 1,
            "adjacent islands must be separated by a real gap (maximality)")
        case _ =>
      }
    }
  }

  test("q_pipeline_e2e: counts are monotone through the stages; yield consistent") {
    val rows = AnalyticsQueries.pipelineE2e(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var (raw, kept) = (0L, 0L)
    rows.foreach { r =>
      val (nRaw, nUnique, nKept, y) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      raw += nRaw; kept += nKept
      assert(nUnique <= nRaw, "dedup can only shrink")
      assert(nKept <= nUnique, "the gate can only shrink further")
      assert(math.abs(y - nKept.toDouble / nRaw) < 1e-3)
    }
    assert(raw == Fixtures.documents(spark, sfDir).count())
    assert(kept > 0 && kept < raw,
      "the calibrated gate must discriminate, not pass/reject wholesale")
  }

  test("q_agg_moments: Pearson inequality holds; the measured tail matches the MAD query's") {
    val rows = AnalyticsQueries.aggMoments(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (skew, exkurt) = (r.getDouble(3), r.getDouble(4))
      // kurtosis >= skew² + 1 for ANY distribution (Pearson), i.e.
      // exkurt >= skew² - 2 — a wrong-moment-algebra bug lands outside
      assert(exkurt >= skew * skew - 2 - 1e-6,
        s"${r.getString(0)}: exkurt $exkurt vs skew $skew violates Pearson")
      assert(skew > 0, "the fixture value column is right-tailed")
    }
    // cross-operator consistency: the same tail q_anomaly_mad flags
    val outliers = AnalyticsQueries.anomalyMad(spark, sfDir)
      .collect().map(_.getLong(4)).sum
    assert(outliers > 0)
    // EXACTNESS vs a driver-side BigDecimal replica: the scaled-integer
    // power sums must reproduce the moments bit-for-bit — a decimal
    // accumulation that truncates v³/v⁴ fractions (the r16 bug: (28,6)
    // products rounded to 6 fractional digits once precision capped at
    // 38) diverges on small-magnitude values; integer cents cannot.
    val byType = Fixtures.events(spark, sfDir)
      .selectExpr("event_type", "value").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)))
    rows.foreach { r =>
      val vs = byType(r.getString(0))
      val q = vs.map(v => BigInt(math.round(v * 100)))
      val n = BigDecimal(q.length)
      def s(p: Int) = BigDecimal(q.map(_.pow(p)).sum)
      val (s1, s2, s3, s4) =
        (s(1).toDouble, s(2).toDouble, s(3).toDouble, s(4).toDouble)
      val nn = n.toDouble
      val mean = s1 / nn
      val m2 = s2 / nn - math.pow(mean, 2)
      val m3 = s3 / nn - 3 * mean * (s2 / nn) + 2 * math.pow(mean, 3)
      val m4 = s4 / nn - 4 * mean * (s3 / nn) +
        6 * math.pow(mean, 2) * (s2 / nn) - 3 * math.pow(mean, 4)
      def rd(x: Double) = BigDecimal(x).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) == rd(mean / 100.0),
        s"${r.getString(0)}: mean mismatch")
      assert(r.getDouble(3) == rd(m3 / math.pow(m2, 1.5)),
        s"${r.getString(0)}: skew not bit-exact vs integer power sums")
      assert(r.getDouble(4) == rd(m4 / (m2 * m2) - 3),
        s"${r.getString(0)}: exkurt not bit-exact vs integer power sums")
    }
  }

  test("q_graph_bfs: one job per hop; levels equal a driver BFS") {
    val s = spark
    import s.implicits._
    QueryScope.release()
    // opening the fixture may run a parquet schema job of its own
    val readJobs = jobsOf { Fixtures.documents(spark, sfDir) }
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { out = AnalyticsQueries.graphBfs(spark, sfDir) }
    assert(jobs == readJobs + 10, s"$jobs jobs for 10 hops ($readJobs to open the fixture)")
    // the same arithmetic graph: only docs with an id below 150 have
    // out-edges
    val ids = Fixtures.documents(spark, sfDir).select($"doc_id").as[Long]
      .collect().filter(_ < 150L).toSet
    val hop = scala.collection.mutable.Map(0L -> 0L)
    var frontier = Set(0L)
    for (h <- 1L to 10L) {
      frontier = frontier.filter(ids)
        .flatMap(v => Seq((v * 2 + 3) % 150, (v * 5 + 7) % 150))
        .filterNot(hop.contains)
      frontier.foreach(hop(_) = h)
    }
    val want = hop.groupBy(_._2).toSeq.sortBy(_._1).map { case (h, ns) =>
      (h, ns.size.toLong, ns.keys.min, ns.keys.max)
    }
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    QueryScope.release()
  }

  test("q_mix_dsir: per-source rollup is complete and weights are finite") {
    val rows = AnalyticsQueries.mixDsir(spark, sfDir).collect()
    val docs = Fixtures.documents(spark, sfDir)
    assert(rows.map(_.getLong(1)).sum == docs.count())
    rows.foreach { r =>
      val w = r.getDouble(2)
      assert(!w.isNaN && !w.isInfinite)
      assert(r.getLong(3) >= 0 && r.getLong(3) <= r.getLong(1))
    }
  }
}
