package graft

import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, Relational, Resample, TradeOps}

/** Property-style invariants from SURVEY.md §5.4 over the sf0.001 data. */
class OpsInvariantsSpec extends SparkSuite {

  lazy val trades = Tables.trades(spark, sf).cache()

  test("usd_volume = price * volume exactly") {
    val bad = trades.filter(col("usd_volume") =!= col("price") * col("volume")).count()
    assert(bad === 0)
  }

  test("sliding features: low <= close <= high, positive counts") {
    val f = TradeOps.slidingFeatures(trades)
    assert(f.filter(col("low") > col("close") || col("close") > col("high")).count() === 0)
    assert(f.filter(col("num_trades") <= 0).count() === 0)
  }

  test("every event lands in exactly 3 sliding windows") {
    val f = TradeOps.slidingFeatures(trades)
    val totalSlots = f.agg(sum(col("num_trades"))).head.getLong(0)
    assert(totalSlots === 3 * trades.count())
  }

  test("cumulative volume is per-symbol non-decreasing and ends at the total") {
    val cum = TradeOps.cumulativeVolume(trades)
    val perSymbolMax = cum.groupBy("symbol").agg(max(col("cumulative_volume")).as("cv"))
    val expected = trades.groupBy("symbol").agg(round(sum(col("volume")), 6).as("tv"))
    val mismatches = perSymbolMax.join(expected, "symbol")
      .filter(abs(col("cv") - col("tv")) > 1e-6).count()
    assert(mismatches === 0)
  }

  test("interpolation preserves observed points and leaves no interior nulls") {
    val filled = Resample.interpolateHourly(trades).cache()
    val obs = trades
      .groupBy(col("symbol"), date_trunc("hour", col("timestamp")).as("bucket"))
      .agg(max_by(col("price"), col("event_id")).as("p"))
    // observed buckets keep their exact value
    val broken = filled.join(obs, Seq("symbol", "bucket"))
      .filter(abs(col("price_filled") - col("p")) > 1e-9).count()
    assert(broken === 0)
    // grid is dense per symbol and has no nulls (first bucket is observed)
    assert(filled.filter(col("price_filled").isNull).count() === 0)
  }

  test("partitioned round-trip prunes to the selected partition dirs") {
    val df = TradeOps.partitionedRoundTrip(spark, trades)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), "scan is partition-aware")
    assert(plan.contains("(year#") || plan.contains("isnotnull(year#") ||
      plan.contains("year"), "year filter reached PartitionFilters")
    // the filter must NOT appear as a post-scan data filter on the rows
    assert(df.count() > 0)
  }

  test("bucketed join plan: sort-merge with zero shuffle exchanges") {
    val df = graft.ops.Scale.bucketedOrderRevenue(spark, sf)
    df.collect() // resolve AQE to the final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), "co-located SMJ expected")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
  }

  test("serving reads push symbol + time filters into the scan") {
    // `symbol` is an alias of event_type on the raw table, so a parquet
    // pushdown rewrites to the source column; if the suite's cached
    // trades plan got substituted by the cache manager instead, the
    // filter must sit on the InMemoryTableScan — either way it reaches
    // the scan node, never a post-scan-only Filter
    val fresh = Tables.trades(spark, sf)
    val s6 = TradeOps.servingRange(fresh, "click",
      "2024-01-05 00:00:00", "2024-01-20 00:00:00")
    val p6 = s6.queryExecution.executedPlan.toString
    assert(p6.contains("EqualTo(event_type,click)") ||
      (p6.contains("InMemoryTableScan") && p6.contains("= click)")),
      s"symbol filter must reach the scan:\n$p6")
    assert(s6.count() > 0)
    // the upsert-store read stores symbol as a real column
    val s7 = TradeOps.keyedPointRead(spark, fresh, sf, "click",
      "2024-01-05 00:00:00", "2024-01-20 00:00:00")
    val p7 = s7.queryExecution.executedPlan.toString
    assert(p7.contains("PushedFilters:") &&
      p7.contains("EqualTo(symbol,click)"),
      s"symbol filter must reach the bucket scan:\n$p7")
    assert(s7.count() > 0)
  }

  test("orderedSplit: distributed rank matches a global row_number, no global window on the fact table") {
    import org.apache.spark.sql.expressions.Window
    val split = TradeOps.orderedSplit(trades)
    // equivalence against the single-task reference formulation
    val n = trades.count()
    val threshold = math.floor(n * 0.8).toLong
    val reference = trades
      .select(col("event_id"), col("symbol"),
        row_number().over(Window.orderBy(col("timestamp"), col("event_id"))).as("rn"))
      .withColumn("split_ref",
        when(col("rn") <= threshold, lit("train")).otherwise(lit("test")))
      .select("event_id", "split_ref")
    val diff = split.join(reference, "event_id")
      .filter(col("split") =!= col("split_ref")).count()
    assert(diff === 0)
    // plan shape: the fact-table rank must be partitioned by the bucket
    // column; the only permissible global window is over the tiny
    // per-bucket counts table
    val plan = split.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(_bkt"),
      s"fact-table row_number must be bucket-partitioned:\n$plan")
  }

  test("prediction vertical: matrix edges align; predictions stay in the observed close range") {
    val bars = TradeOps.slidingFeatures(trades)
    val mat = graft.ops.Predict.lookbackMatrix(bars, 10)
    // the matrix's last element IS the current bar (oldest-first order)
    val misaligned = mat.join(bars, Seq("symbol", "timestamp"))
      .filter(expr("element_at(matrix, 10).close") =!= col("close")).count()
    assert(misaligned === 0)
    // convex scorer over scaled features inverse-maps into [mn, mx]
    val pred = graft.ops.Predict.predictNext(trades, 10)
    val stats = bars.groupBy("symbol")
      .agg(min(col("close")).as("mn"), max(col("close")).as("mx"))
    val oob = pred.join(stats, "symbol")
      .filter(col("predicted_close") < col("mn") - 1e-9 ||
        col("predicted_close") > col("mx") + 1e-9).count()
    assert(oob === 0)
    // the codegen'd window-sum decomposition is bit-identical to the
    // matrix-fold scorer (integer-exact arithmetic in both paths)
    val viaMatrix = graft.ops.Predict
      .predictNext(trades, 10, graft.ops.Predict.linearScorer(10))
      .withColumnRenamed("predicted_close", "pc_matrix")
    val drift = pred.join(viaMatrix, Seq("symbol", "timestamp"))
      .filter(col("predicted_close") =!= col("pc_matrix")).count()
    assert(drift === 0)
  }

  test("approx distinct within 5% of exact per group") {
    val exact = Relational.distinctCounts(spark, sf)
      .select("l_returnflag", "n_supp", "n_part")
    val approx = Relational.approxDistinctCounts(spark, sf)
      .select("l_returnflag", "approx_supp", "approx_part")
    val bad = exact.join(approx, "l_returnflag")
      .filter(
        abs(col("approx_supp") - col("n_supp")) > col("n_supp") * 0.05 ||
        abs(col("approx_part") - col("n_part")) > col("n_part") * 0.05)
      .count()
    assert(bad === 0)
  }

  test("rangeCountJoin matches the inequality join when window is not a bin multiple") {
    // windowSec=1000, binSec=900: matches can live 2 bins back — integer
    // division (1000/900 = 1) would silently undercount; ceiling division
    // must agree with the exact per-key inequality join.
    val purchases = trades.filter(col("symbol") === "purchase")
      .select("event_id", "user_id", "timestamp", "price")
    val clicks = trades.filter(col("symbol") === "click")
      .select("user_id", "timestamp")
    val binned = AsOfJoin.rangeCountJoin(purchases, clicks, "user_id",
      "timestamp", windowSec = 1000L, binSec = 900L)
    val exact = purchases.as("p")
      .join(clicks.as("c"),
        col("c.user_id") === col("p.user_id") &&
          col("c.timestamp") > col("p.timestamp") - expr("INTERVAL 1000 SECONDS") &&
          col("c.timestamp") <= col("p.timestamp"),
        "left_outer")
      .groupBy(col("p.event_id"))
      .agg(count(col("c.user_id")).as("n_exact"))
    val diff = binned.join(exact, "event_id")
      .filter(col("n_in_range") =!= col("n_exact")).count()
    assert(diff === 0)
  }

  test("TPC-H q2/q16/q20 plans: dimension sides broadcast, no cartesian product") {
    for (df <- Seq(graft.ops.Relational.minCostSupplier(spark, sf),
        graft.ops.Relational.supplierCountByPart(spark, sf),
        graft.ops.Relational.excessStockSuppliers(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    }
    // q11's global scalar IS a broadcast cross join (1-row side) — assert
    // the build side is the nested-loop broadcast, not a cartesian
    val p11 = graft.ops.Relational.importantStockValue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p11.contains("BroadcastNestedLoopJoin") ||
      p11.contains("BroadcastHashJoin"), p11.take(2000))
    assert(!p11.contains("CartesianProduct"), p11.take(2000))
  }

  test("ewma: constant series is identity; value bounded by window extremes") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val const = (1 to 40).map(i => (i.toLong, "C", ts(i), 5.5, 1.0, 5.5))
      .toDF("event_id", "symbol", "timestamp", "price", "volume", "usd_volume")
    assert(graft.ops.TradeOps.ewma(const)
      .filter(col("ewma") =!= 5.5).count() === 0)
    // a convex combination of the last 16 prices stays inside their range
    val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
      .orderBy(col("timestamp"), col("event_id")).rowsBetween(-15, 0)
    val bounds = trades.select(col("event_id"),
      min(col("price")).over(w).as("lo"), max(col("price")).over(w).as("hi"))
    assert(graft.ops.TradeOps.ewma(trades).join(bounds, "event_id")
      .filter(col("ewma") < col("lo") - 1e-4 ||
        col("ewma") > col("hi") + 1e-4).count() === 0)
  }

  test("price histogram: bins partition each symbol's rows exactly") {
    val h = graft.ops.TradeOps.priceHistogram(trades)
    assert(h.filter(col("bin") < 0 || col("bin") > 19).count() === 0)
    val totals = h.groupBy("symbol").agg(sum(col("n")).as("hist_n"))
      .join(trades.groupBy("symbol").count(), "symbol")
    assert(totals.filter(col("hist_n") =!= col("count")).count() === 0)
    // bucket contents respect the bucket edges: per-symbol bins ordered
    // by index have non-overlapping [bin_min, bin_max] ranges
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy("bin")
    val overlap = h.withColumn("prev_max", lag(col("bin_max"), 1).over(w))
      .filter(col("prev_max").isNotNull && col("bin_min") < col("prev_max"))
    assert(overlap.count() === 0)
  }

  test("rolling median: within window range, exact on a crafted series") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    // prices 1..40: median of any full 25-window ending at k is k-12
    val ramp = (1 to 40).map(i => (i.toLong, "R", ts(i), i.toDouble, 1.0, i.toDouble))
      .toDF("event_id", "symbol", "timestamp", "price", "volume", "usd_volume")
    val got = graft.ops.TradeOps.rollingMedian(ramp).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got === (25 to 40).map(k => k.toLong -> (k - 12).toDouble).toMap)
    intercept[IllegalArgumentException] {
      graft.ops.TradeOps.rollingMedian(ramp, n = 24)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
      .orderBy(col("timestamp"), col("event_id")).rowsBetween(-24, 0)
    val bounds = trades.select(col("event_id"),
      min(col("price")).over(w).as("lo"), max(col("price")).over(w).as("hi"))
    assert(graft.ops.TradeOps.rollingMedian(trades).join(bounds, "event_id")
      .filter(col("rolling_median") < col("lo") - 1e-4 ||
        col("rolling_median") > col("hi") + 1e-4).count() === 0)
  }

  test("funnel: strict stage order enforced, one shuffle in the plan") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val ev = Seq(
      // u1: clean view -> click -> purchase
      (1L, ts(10), "view"), (1L, ts(5), "click"), (1L, ts(20), "click"),
      (1L, ts(30), "purchase"),
      // u2: click/purchase BEFORE the first view count for nothing
      (2L, ts(5), "click"), (2L, ts(10), "purchase"), (2L, ts(20), "view"),
      // u3: purchase precedes the qualifying click
      (3L, ts(10), "view"), (3L, ts(20), "click"), (3L, ts(15), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val f = graft.ops.EventAnalytics.funnel(ev)
    val got = f.collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(got === Map(1L -> 3, 2L -> 1, 3L -> 2))
    // the u1 click that counts is the one AFTER the view
    val u1 = f.filter(col("user_id") === 1).head
    assert(u1.getTimestamp(2) === ts(20))
    f.collect()
    // AQE's toString prints the final plan AND an "Initial Plan" echo —
    // count exchanges only in the final section
    val plan = f.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") === 1,
      s"funnel must shuffle exactly once:\n$plan")
  }

  test("transition matrix: totals telescope, gaps respect the threshold") {
    val events = Tables.events(spark, sf)
    val t = graft.ops.EventAnalytics.transitionMatrix(events)
    // each user contributes exactly (their events - 1) transitions
    val expected = events.count() - events.select("user_id").distinct().count()
    assert(t.agg(sum(col("n"))).head.getLong(0) === expected)
    val g = graft.ops.TradeOps.gapDetect(trades, thresholdSec = 1)
    assert(g.filter(col("gap_micros") <= 1000000L).count() === 0)
    assert(g.filter(col("prev_ts") >= col("timestamp")).count() === 0)
  }

  test("retention: every cohort fully active at offset zero") {
    val events = Tables.events(spark, sf)
    val r = graft.ops.EventAnalytics.retention(events)
    assert(r.filter(col("day_offset") < 0).count() === 0)
    val cohortSizes = events.groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("cd"))
      .groupBy(col("cd").cast("timestamp").as("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val day0 = r.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_active"))
    // each user is by definition active on their cohort day
    assert(day0.join(cohortSizes, "cohort_day")
      .filter(col("n_active") =!= col("n_users")).count() === 0)
    assert(day0.count() === cohortSizes.count())
  }

  test("version diff: no deletes under upsert, inserts exactly the new keys") {
    val d = graft.ops.TradeOps.versionDiff(spark, trades, "spec")
    assert(d.filter(col("change_type") === "delete").count() === 0)
    assert(d.groupBy("symbol", "hr").count()
      .filter(col("count") > 1).count() === 0)
    val v1 = graft.ops.TradeOps.timeTravelRead(spark, trades, "spec")
      .select("symbol", "hr")
    // inserts are precisely the keys absent from version 1; everything
    // else was already present
    assert(d.filter(col("change_type") === "insert")
      .join(v1, Seq("symbol", "hr"), "left_semi").count() === 0)
    assert(d.filter(col("change_type") =!= "insert")
      .join(v1, Seq("symbol", "hr"), "left_anti").count() === 0)
  }

  test("incremental distinct: merged sketches stay inside the envelope") {
    val events = Tables.events(spark, sf)
    val d = graft.ops.Incremental.incrementalDistinct(events)
    assert(d.filter(col("within_5pct") =!= 1).count() === 0)
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("direct"))
    assert(d.join(exact, "event_type")
      .filter(col("n_users") =!= col("direct")).count() === 0)
  }

  test("incremental view merge == flat recompute over all events") {
    val events = Tables.events(spark, sf)
    val inc = graft.ops.Incremental.incrementalAgg(events)
    val flat = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("sum_value_micro"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .withColumn("day", col("day").cast("timestamp"))
    assert(inc.count() === flat.count())
    assert(inc.except(flat).isEmpty && flat.except(inc).isEmpty)
  }

  test("compaction: bounded file count, rows identical, no shuffle") {
    val out = TradeOps.compactRoundTrip(spark, trades, targetFiles = 4)
    def parquetFiles(dir: String): Int =
      new java.io.File(dir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    val scratch = (name: String) =>
      s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${spark.sparkContext.applicationId}"
    assert(parquetFiles(scratch("frag_store")) === 32)
    assert(parquetFiles(scratch("compacted_store")) <= 4)
    // compaction is a row identity
    assert(out.count() === trades.count())
    assert(out.select("event_id").except(trades.select("event_id")).count() === 0)
    // coalesce, not repartition: the compaction read plan has no exchange
    val plan = spark.read.parquet(scratch("frag_store")).coalesce(4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction plan shuffles:\n$plan")
  }

  test("graft functions are SQL-callable after registration") {
    // earlier specs may have registered them on the shared session
    Seq("avro_encode_envelope", "avro_decode_envelope").foreach(f =>
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f)))
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT avro_decode_envelope(avro_encode_envelope(env)) = env AS eq
        |FROM (SELECT named_struct('data', array(named_struct(
        |  'c', array('cond1'), 'p', 1.5D, 's', 'BTC', 't', 1700000000000L,
        |  'v', 2.0D, 'cv', 2.0D)), 'type', 'trade') AS env)""".stripMargin).head
    assert(r.getBoolean(0), "decode(encode(env)) == env")
  }

  test("avro codec round-trips the c union field (null, [null, str] cases)") {
    graft.functions.AvroCodec.register(spark)
    val df = spark.sql(
      """SELECT named_struct(
        |  'data', array(
        |     named_struct('c', CAST(NULL AS array<string>),
        |       'p', 1.5D, 's', 'BTC', 't', 1700000000000L, 'v', 2.0D, 'cv', 2.0D),
        |     named_struct('c', array(CAST(NULL AS string), 'cond1'),
        |       'p', 2.5D, 's', 'ETH', 't', 1700000001000L, 'v', 3.0D, 'cv', 5.0D)),
        |  'type', 'trade') AS env""".stripMargin)
      .select(expr("avro_decode_envelope(avro_encode_envelope(env))").as("back"),
        col("env"))
    val r = df.select(
      expr("back = env").as("eq"),
      expr("back.data[1].c[1]").as("cond"),
      expr("back.data[0].c").as("nullc")).head
    assert(r.getBoolean(0), "decode(encode(env)) == env")
    assert(r.getString(1) === "cond1")
    assert(r.isNullAt(2))
  }

  test("bollinger: band order holds, sma within window extremes") {
    val b = TradeOps.bollinger(trades).cache()
    assert(b.count() > 0)
    assert(b.filter(col("upper_band") < col("sma") ||
      col("sma") < col("lower_band")).count() === 0)
    // sma of a 20-row window can never leave the feed's global range
    val (lo, hi) = (trades.agg(min("price")).head.getDouble(0),
      trades.agg(max("price")).head.getDouble(0))
    assert(b.filter(col("sma") < lo - 0.01 || col("sma") > hi + 0.01)
      .count() === 0)
    b.unpersist()
  }

  test("rsi: bounded in [0,100]; constant series yields NULL") {
    val r = TradeOps.rsi(trades)
    assert(r.count() > 0)
    assert(r.filter(col("rsi") < 0 || col("rsi") > 100).count() === 0)
    import spark.implicits._
    val flat = (1 to 30).map(i =>
      (i.toLong, "X", java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d"),
        5.0, 1.0, 5.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume", "usd_volume")
    val fr = TradeOps.rsi(flat)
    assert(fr.count() > 0 && fr.filter(col("rsi").isNotNull).count() === 0)
  }

  test("drawdown: non-negative, zero exactly at running peaks") {
    val d = TradeOps.drawdown(trades).cache()
    assert(d.filter(col("drawdown_pct") < 0).count() === 0)
    // at least one row per symbol sits AT its peak (the max itself)
    val zeros = d.filter(col("drawdown_pct") === 0.0)
      .select("symbol").distinct().count()
    assert(zeros === trades.select("symbol").distinct().count())
    d.unpersist()
  }

  test("vwap: between the hour's min and max price") {
    val v = TradeOps.vwap(trades)
    val hourly = trades.groupBy(date_trunc("hour", col("timestamp"))
      .as("hour_start"), col("symbol"))
      .agg(min("price").as("lo"), max("price").as("hi"))
    val out = v.join(hourly, Seq("symbol", "hour_start"))
      .filter(col("vwap") < col("lo") - 1e-6 ||
        col("vwap") > col("hi") + 1e-6)
    assert(out.count() === 0)
  }

  test("pairwise corr: |r| <= 1, all unordered pairs present, self-corr 1") {
    val c = TradeOps.pairwiseCorr(trades).cache()
    val nSym = trades.select("symbol").distinct().count()
    assert(c.count() === nSym * (nSym - 1) / 2)
    assert(c.filter(abs(col("corr_close")) > 1.0 + 1e-9).count() === 0)
    // a symbol against itself must come out exactly 1 — run the same
    // pipeline with a duplicated symbol column to cover the algebra
    val dup = trades.withColumn("symbol",
      concat(col("symbol"), lit(""))) // no-op, keeps one scan
    val self = TradeOps.pairwiseCorr(
      dup.union(dup.withColumn("symbol", concat(col("symbol"), lit("_b")))))
      .filter(col("sym_b") === concat(col("sym_a"), lit("_b")))
    assert(self.filter(abs(col("corr_close") - 1.0) > 1e-9).count() === 0)
    c.unpersist()
  }

  test("obv: zero first row per symbol, step size is exactly the volume") {
    val o = TradeOps.obv(trades).cache()
    // first row of each symbol contributes no direction → obv starts 0
    val firsts = trades.groupBy("symbol")
      .agg(min(struct(col("timestamp"), col("event_id"))).as("f"))
      .select(col("symbol"), col("f.event_id").as("event_id"))
    assert(o.join(firsts, Seq("symbol", "event_id"))
      .filter(col("obv") =!= 0.0).count() === 0)
    // |obv_t − obv_{t−1}| is the row's volume (or 0 on a flat tick)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy(col("timestamp"), col("event_id"))
    val steps = o.withColumn("prev", lag(col("obv"), 1).over(w))
      .filter(col("prev").isNotNull)
      .join(trades.select("event_id", "volume"), "event_id")
      .filter(abs(abs(col("obv") - col("prev")) - col("volume")) > 1e-6 &&
        abs(col("obv") - col("prev")) > 1e-9)
    assert(steps.count() === 0)
    o.unpersist()
  }

  test("winsorize: clamped into band, clip flags match, order preserved") {
    val wz = TradeOps.winsorize(trades).cache()
    assert(wz.count() === trades.count())
    assert(wz.filter(col("clamped") < col("price") && !col("was_clipped"))
      .count() === 0)
    assert(wz.filter(!col("was_clipped") && col("clamped") =!= col("price"))
      .count() === 0)
    // clip rate is bounded by the tail masses (≤ ~5% + 5% plus ties)
    val rate = wz.filter(col("was_clipped")).count().toDouble / wz.count()
    assert(rate <= 0.12, s"clip rate $rate")
    wz.unpersist()
  }

  test("stochastic %K: in [0,100], NULL exactly when window is flat") {
    val k = TradeOps.stochasticK(trades)
    assert(k.count() > 0)
    assert(k.filter(col("pct_k") < 0 || col("pct_k") > 100).count() === 0)
    import spark.implicits._
    val flat = (1 to 20).map(i =>
      (i.toLong, "X", java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d"),
        7.5, 1.0, 7.5))
      .toDF("event_id", "symbol", "timestamp", "price", "volume", "usd_volume")
    assert(TradeOps.stochasticK(flat).filter(col("pct_k").isNotNull)
      .count() === 0)
  }

  test("atr: positive, first-window average bounded by max bar range span") {
    val a = TradeOps.atr(trades).cache()
    assert(a.count() > 0)
    assert(a.filter(col("atr") <= 0 || col("true_range") < 0).count() === 0)
    // TR ≥ hi − lo of its own bar, so ATR ≥ the window's min bar range
    // and ≤ ... sanity: ATR can never exceed the global price range ×2
    val span = trades.agg((max("price") - min("price")).as("s"))
      .head.getDouble(0)
    assert(a.filter(col("atr") > span * 2 + 1).count() === 0)
    a.unpersist()
  }

  test("anomaly flags: integer predicate agrees with the float z-score") {
    val n = 20
    val flagged = TradeOps.anomalyFlags(trades, n, 3).cache()
    assert(flagged.count() > 0)
    // recompute |x−μ| > 3σ in floats and check set equality (the data
    // has no boundary-straddling row, so float and exact agree here;
    // the exact form is the one that can't EVER disagree cross-engine)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy(col("timestamp"), col("event_id"))
      .rowsBetween(-(n - 1), org.apache.spark.sql.expressions.Window.currentRow)
    val floatFlags = trades
      .withColumn("pc", expr("CAST(round(price * 100) AS BIGINT)"))
      .withColumn("mu", avg(col("pc")).over(w))
      .withColumn("sg",
        sqrt(avg(col("pc") * col("pc")).over(w) - col("mu") * col("mu")))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") === n &&
        abs(col("pc") - col("mu")) > lit(3) * col("sg"))
      .select("event_id")
    assert(flagged.select("event_id").except(floatFlags).count() === 0)
    assert(floatFlags.except(flagged.select("event_id")).count() === 0)
    flagged.unpersist()
  }

  test("cusum: non-negative sides, zero at start, exact on a crafted drift") {
    val c = TradeOps.cusum(trades)
    assert(c.filter(col("cusum_pos") < 0 || col("cusum_neg") < 0)
      .count() === 0)
    import spark.implicits._
    // constant then +10 jump: cusum_pos ramps by 10 per post-jump row
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val drift = ((1 to 5).map(i => (i.toLong, "X", ts(i), 100.0, 1.0, 100.0)) ++
      (6 to 8).map(i => (i.toLong, "X", ts(i), 110.0, 1.0, 110.0)))
      .toDF("event_id", "symbol", "timestamp", "price", "volume", "usd_volume")
    val got = TradeOps.cusum(drift, h = 15.0).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(5))).toMap
    assert(got(5L)._1 === 0.0)
    assert(got(6L)._1 === 10.0 && !got(6L)._2)
    assert(got(7L)._1 === 20.0 && got(7L)._2)
    assert(got(8L)._1 === 30.0 && got(8L)._2)
  }

  test("profile sketch: envelope flag holds, exact distincts match") {
    val li = Tables.load(spark, sf, "lineitem")
    val s = TradeOps.columnProfileSketch(li).cache()
    assert(s.count() === li.columns.length)
    assert(s.filter(col("within_envelope") =!= 1).count() === 0)
    assert(s.filter(col("n_distinct") <= 0).count() === 0)
    s.unpersist()
  }

  test("forward as-of: next-or-equal right row, NULL when none follows") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val left = Seq((1L, 7L, ts(10), 1.0), (2L, 7L, ts(20), 2.0),
      (3L, 7L, ts(40), 3.0), (4L, 9L, ts(10), 4.0))
      .toDF("event_id", "user_id", "timestamp", "price")
    val right = Seq((7L, ts(5), 50.0), (7L, ts(20), 60.0), (7L, ts(30), 70.0))
      .toDF("user_id", "timestamp", "p")
    val got = graft.ops.AsOfJoin
      .asOfForward(left, right, "user_id", "timestamp", "p", "nxt")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got(1L) === Some(60.0)) // strictly-after right at t=20
    assert(got(2L) === Some(60.0)) // tie at t=20 matches
    assert(got(3L) === None)       // nothing at or after t=40
    assert(got(4L) === None)       // other key has no rights at all
  }

  test("keyset page: contiguous slice strictly after the cursor") {
    val page = TradeOps.keysetPage(trades, "2024-01-15 00:00:00", 0L, 50)
      .cache()
    assert(page.count() === 50)
    val cursor = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    assert(page.filter(col("timestamp") <= cursor).count() === 0)
    // the page is the EXACT first 50 post-cursor rows in feed order:
    // nothing between the cursor and the page's max is missing
    val hi = page.agg(max(struct(col("timestamp"), col("event_id"))))
      .head.getStruct(0)
    val expected = trades
      .filter(col("timestamp") > cursor)
      .filter(struct(col("timestamp"), col("event_id")) <=
        struct(lit(hi.getTimestamp(0)), lit(hi.getLong(1))))
      .count()
    assert(expected === 50)
    // second page resumes exactly where the first left off: no overlap
    val page2 = TradeOps.keysetPage(trades,
      hi.getTimestamp(0).toString.stripSuffix(".0"), hi.getLong(1), 50)
    assert(page2.join(page, Seq("event_id"), "left_semi").count() === 0)
    page.unpersist()
  }

  test("column profile: one row per column, nulls+distincts consistent") {
    val li = Tables.load(spark, sf, "lineitem")
    val p = TradeOps.columnProfile(li).cache()
    assert(p.count() === li.columns.length)
    val n = li.count()
    assert(p.filter(col("n_rows") =!= n).count() === 0)
    // distinct + nulls can never exceed rows; keys are fully distinct
    assert(p.filter(col("n_distinct") + col("n_nulls") > col("n_rows"))
      .count() === 0)
    val lk = p.filter(col("col_name") === "l_orderkey").head
    assert(lk.getLong(3) === li.select("l_orderkey").distinct().count())
    p.unpersist()
  }

  test("indicator tier: each per-symbol window op shuffles exactly once") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      plan.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning")
    }
    assert(exchanges(TradeOps.bollinger(trades)) === 1)
    assert(exchanges(TradeOps.rsi(trades)) === 1)
    assert(exchanges(TradeOps.stochasticK(trades)) === 1)
    assert(exchanges(TradeOps.drawdown(trades)) === 1)
    assert(exchanges(TradeOps.obv(trades)) === 1)
    assert(exchanges(TradeOps.cusum(trades)) === 1)
  }

  test("market beta: one row per symbol, betas sum to symbol count") {
    val b = TradeOps.marketBeta(trades).cache()
    val nSym = trades.select("symbol").distinct().count()
    assert(b.count() === nSym)
    // the index is the SUM of the symbols' closes, so Σ cov(x_i, m)
    // = var(m) and the betas sum to EXACTLY 1·nSym... no — they sum
    // to 1 only for the mean index; for the sum index Σβ_i = 1.
    val total = b.agg(sum("beta")).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"sum of betas $total != 1")
    b.unpersist()
  }

  test("macd: zero on constant series, fast-minus-slow sign on a ramp") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val flat = (1 to 20).map(i => (i.toLong, "X", ts(i), 5.0, 1.0, 5.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume", "usd_volume")
    assert(TradeOps.macd(flat).filter(col("macd") =!= 0.0).count() === 0)
    // rising prices: the fast EWMA tracks closer to the top → macd > 0
    val ramp = (1 to 30).map(i => (i.toLong, "X", ts(i), 10.0 + i, 1.0, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume", "usd_volume")
    val late = TradeOps.macd(ramp).filter(col("event_id") > 16)
    assert(late.filter(col("macd") <= 0).count() === 0)
  }

  test("modal price: the returned price really is the argmax count") {
    val m = TradeOps.modalPrice(trades)
    val nSym = trades.select("symbol").distinct().count()
    assert(m.count() === nSym)
    val counts = trades
      .withColumn("pc", expr("CAST(round(price * 100) AS BIGINT)"))
      .groupBy("symbol", "pc").agg(count(lit(1)).as("c"))
    val maxPer = counts.groupBy("symbol").agg(max("c").as("mx"))
    assert(m.join(maxPer, "symbol").filter(col("cnt") =!= col("mx"))
      .count() === 0)
  }

  test("robust stats: median within range, MAD-z outliers subset of range") {
    val r = TradeOps.robustStats(trades).cache()
    val bounds = trades.groupBy("symbol")
      .agg(min("price").as("lo"), max("price").as("hi"))
    assert(r.join(bounds, "symbol")
      .filter(col("med") < col("lo") || col("med") > col("hi"))
      .count() === 0)
    assert(r.filter(col("mad") < 0 || col("n_outliers") < 0 ||
      col("n_outliers") > col("n")).count() === 0)
    import spark.implicits._
    // crafted: 9 at 10.0, one at 1000.0 → med 10, mad 0... use varied
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val crafted = (Seq(10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0,
      18.0, 1000.0)).zipWithIndex.map { case (p, i) =>
      ((i + 1).toLong, "X", ts(i + 1), p, 1.0, p)
    }.toDF("event_id", "symbol", "timestamp", "price", "volume", "usd_volume")
    val c = TradeOps.robustStats(crafted).head
    // n=10 → rank ceil(5)=5 → med = 14.0; ads sorted: 0,1,1,2,2,3,3,4,4,986
    // → mad rank 5 = 2.0; outliers: ad > 3·1.4826·2 = 8.9 → only 1000.0
    assert(c.getDouble(c.fieldIndex("med")) === 14.0)
    assert(c.getDouble(c.fieldIndex("mad")) === 2.0)
    assert(c.getLong(c.fieldIndex("n_outliers")) === 1)
    r.unpersist()
  }

  test("cooccurrence: bounded by each type's user count, symmetric-free") {
    val ev = Tables.events(spark, sf)
    val co = graft.ops.EventAnalytics.cooccurrence(ev).cache()
    assert(co.filter(col("type_a") >= col("type_b")).count() === 0)
    val perType = ev.groupBy(col("event_type"))
      .agg(countDistinct("user_id").as("nu"))
    val bad = co
      .join(perType.withColumnRenamed("event_type", "type_a"), "type_a")
      .withColumnRenamed("nu", "nu_a")
      .join(perType.withColumnRenamed("event_type", "type_b"), "type_b")
      .filter(col("n_users") > least(col("nu_a"), col("nu")))
    assert(bad.count() === 0)
    co.unpersist()
  }

  test("interval merge: islands disjoint with real gaps, events conserved") {
    import org.apache.spark.sql.expressions.Window
    val m = TradeOps.mergeIntervals(trades).cache()
    // every event lands in exactly one island
    assert(m.agg(sum(col("n_events"))).head.getLong(0) === trades.count())
    // consecutive islands per user are separated by a genuine gap
    val w = Window.partitionBy("user_id").orderBy("island")
    val overlaps = m
      .withColumn("prev_end", lag(col("island_end"), 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("island_start") <= col("prev_end"))
    assert(overlaps.count() === 0)
    m.unpersist()
    // crafted: 0s/10s/50s with a 30s span → [0,40) and [50,80)
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${s}%02d")
    val crafted = Seq((1L, 9L, ts(0)), (2L, 9L, ts(10)), (3L, 9L, ts(50)))
      .toDF("event_id", "user_id", "timestamp")
    val c = TradeOps.mergeIntervals(crafted, spanSec = 30)
      .orderBy("island").collect()
    assert(c.length === 2)
    assert(c(0).getLong(4) === 2 && c(1).getLong(4) === 1)
    assert(c(0).getTimestamp(3) === java.sql.Timestamp.valueOf("2024-01-01 00:00:40"))
    assert(c(1).getTimestamp(2) === java.sql.Timestamp.valueOf("2024-01-01 00:00:50"))
  }

  test("equi-depth histogram: balanced buckets, ordered boundaries, conserved") {
    import org.apache.spark.sql.expressions.Window
    val h = TradeOps.equiDepthHistogram(trades).cache()
    val perSym = trades.groupBy("symbol").agg(count(lit(1)).as("total"))
    // counts conserve and buckets differ by at most one row
    assert(h.groupBy("symbol").agg(sum(col("n")).as("s")).join(perSym, "symbol")
      .filter(col("s") =!= col("total")).count() === 0)
    assert(h.groupBy("symbol").agg((max(col("n")) - min(col("n"))).as("spread"))
      .filter(col("spread") > 1).count() === 0)
    // depth boundaries are monotone: next bucket's lo >= this bucket's hi
    val w = Window.partitionBy("symbol").orderBy("bucket")
    assert(h.withColumn("prev_hi", lag(col("hi"), 1).over(w))
      .filter(col("prev_hi").isNotNull && col("lo") < col("prev_hi"))
      .count() === 0)
    h.unpersist()
  }

  test("walk-forward splits: exact membership on a crafted calendar") {
    import spark.implicits._
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-${d + 1}%02d 12:00:00")
    // one event per day on days 0..3; folds=2, train=2, test=1:
    //   fold 0 trains days [0,2) tests [2,3); fold 1 trains [1,3) tests [3,4)
    val crafted = (0 to 3).map(d => (d.toLong, d.toLong, day(d), 1.0))
      .toDF("event_id", "user_id", "timestamp", "volume")
    val out = TradeOps.walkForwardSplits(crafted, folds = 2,
      trainDays = 2, testDays = 1)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map((0L, "train") -> 2L, (0L, "test") -> 1L,
      (1L, "train") -> 2L, (1L, "test") -> 1L))
    // real feed: every fold has both roles and test follows train in time
    val real = TradeOps.walkForwardSplits(trades)
    assert(real.filter(col("n_rows") <= 0).count() === 0)
    assert(real.groupBy("fold").agg(count(lit(1)).as("roles"))
      .filter(col("roles") =!= 2).count() === 0)
  }

  test("delta encoding is lossless: cumulative deltas rebuild the series") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("symbol").orderBy(col("timestamp"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val enc = trades
      .withColumn("pm", expr("CAST(round(price * 1000000) AS BIGINT)"))
      .withColumn("d", col("pm") - lag(col("pm"), 1).over(w))
    // a decoder is a running sum of (first value, then deltas)
    val rebuilt = enc.withColumn("rec",
      sum(coalesce(col("d"), col("pm"))).over(run))
    assert(rebuilt.filter(col("rec") =!= col("pm")).count() === 0)
    // digest telescopes: sum_deltas = last - first, n_deltas = n - 1
    val digest = TradeOps.deltaEncode(trades)
    assert(digest.filter(col("n_deltas") =!= col("n_rows") - 1).count() === 0)
    assert(digest.filter(col("sum_abs_deltas") < abs(col("sum_deltas")))
      .count() === 0)
  }

  test("attribution: counts partition purchases; crafted window semantics") {
    val ev = Tables.events(spark, sf)
    val a = graft.ops.EventAnalytics.lastTouchAttribution(ev)
    assert(a.filter(col("n_attributed") + col("n_no_touch") > col("n_purchases"))
      .count() === 0)
    val totals = a.agg(sum(col("n_purchases"))).head.getLong(0)
    assert(totals === ev.filter(col("event_type") === "purchase").count())
    // crafted: click at t0; purchase 1h later attributed, 5d later not,
    // separate user with no click ever lands in n_no_touch
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val crafted = Seq(
      (1L, 7L, "click", t("2024-01-01 00:00:00")),
      (2L, 7L, "purchase", t("2024-01-01 01:00:00")),
      (3L, 7L, "purchase", t("2024-01-06 00:00:00")),
      (4L, 8L, "purchase", t("2024-01-01 02:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val c = graft.ops.EventAnalytics.lastTouchAttribution(crafted)
      .collect().map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(c("2024-01-01 00:00:00.0") === ((2L, 1L, 1L)))
    assert(c("2024-01-06 00:00:00.0") === ((1L, 0L, 0L)))
  }

  test("bloom semi-join equals the plain semi-join (no false negatives)") {
    val bloom = Relational.bloomSemiJoinRevenue(spark, sf)
      .orderBy("l_returnflag").collect()
    val hot = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val plain = Tables.load(spark, sf, "lineitem")
      .join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag").collect()
    assert(bloom.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      plain.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("scd2: chained non-overlapping epochs, one current row per user") {
    import org.apache.spark.sql.expressions.Window
    val d = TradeOps.scd2Build(trades).cache()
    // exactly one open (is_current) epoch per user
    assert(d.filter(col("is_current")).groupBy("user_id").count()
      .filter(col("count") =!= 1).count() === 0)
    assert(d.groupBy("user_id").agg(sum(when(col("valid_to").isNull, 1)
      .otherwise(0)).as("opens")).filter(col("opens") =!= 1).count() === 0)
    // versions are 1..n and epochs chain: valid_to(v) = valid_from(v+1)
    val w = Window.partitionBy("user_id").orderBy("version")
    val chained = d
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("next_ver", lead(col("version"), 1).over(w))
      .withColumn("prev_tier", lag(col("tier"), 1).over(w))
    assert(chained.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() === 0)
    assert(chained.filter(col("next_ver").isNotNull &&
      col("next_ver") =!= col("version") + 1).count() === 0)
    // compaction really compacted: consecutive versions change the tier
    assert(chained.filter(col("prev_tier").isNotNull &&
      col("tier") === col("prev_tier")).count() === 0)
    d.unpersist()
  }

  test("z-score: standardized moments, flat series yields NULL") {
    val z = TradeOps.zscoreScale(trades).cache()
    // per symbol: mean(z) ~ 0 and var(z) ~ 1 (up to the 6-dec rounding)
    val moments = z.groupBy("symbol")
      .agg(avg(col("z")).as("m"), avg(col("z") * col("z")).as("v"))
    assert(moments.filter(abs(col("m")) > 1e-4).count() === 0)
    assert(moments.filter(abs(col("v") - 1.0) > 1e-3).count() === 0)
    assert(z.count() === trades.count())
    z.unpersist()
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val flat = Seq((1L, "F", ts(1), 5.0), (2L, "F", ts(2), 5.0))
      .toDF("event_id", "symbol", "timestamp", "price")
    assert(TradeOps.zscoreScale(flat).filter(col("z").isNotNull)
      .count() === 0)
  }

  test("schema evolution: pre-cutover rows null-fill the added column") {
    val cut = "2024-01-15 00:00:00"
    val merged = TradeOps.schemaEvolutionRead(spark, trades, cut).cache()
    assert(merged.count() === trades.count())
    val cutTs = to_timestamp(lit(cut))
    assert(merged.filter(col("timestamp") < cutTs &&
      col("volume").isNotNull).count() === 0)
    assert(merged.filter(col("timestamp") >= cutTs &&
      col("volume").isNull).count() === 0)
    merged.unpersist()
  }

  test("retractable view: delete deltas cancel exactly, zero groups drop") {
    import graft.ops.Incremental
    val ev = Tables.events(spark, sf)
    val view = Incremental.incrementalRetract(ev)
    val direct = ev.filter(pmod(col("event_id"), lit(Incremental.RetractMod)) =!= 0)
      .groupBy(col("event_type"), to_date(col("ts")).cast("timestamp").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 1000000) AS BIGINT)"))
          .as("sum_value_micro"))
    assert(view.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(view).count() === 0)
    // crafted: a group fully retracted must vanish from the view
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val crafted = Seq(
      (7L, 1L, "solo", t("2024-01-01 10:00:00"), 2.5),   // 7 % 7 == 0 → retracted
      (8L, 1L, "kept", t("2024-01-01 11:00:00"), 4.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val c = Incremental.incrementalRetract(crafted).collect()
    assert(c.length === 1 && c.head.getString(0) === "kept")
    assert(c.head.getLong(2) === 1L && c.head.getLong(3) === 4000000L)
  }

  test("plan sweep: no CartesianProduct in ANY registered query") {
    // The fleet-wide scale invariant: an unbounded cartesian is the one
    // plan node that cannot survive 100×. Every intentional cross join
    // in the engine broadcasts a provably tiny side, which plans as
    // BroadcastNestedLoopJoin — so a CartesianProduct anywhere is a
    // regression, and this sweep pins ALL current and future queries.
    // (Construction executes the side-effecting round-trip queries at
    // sf0.001 — the same cost the bench warmup already pays.)
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("k-fold: folds partition the feed, ids land deterministically") {
    val f = TradeOps.kfoldAssign(trades, k = 5).cache()
    assert(f.agg(sum(col("n_rows"))).head.getLong(0) === trades.count())
    assert(f.filter(col("fold") < 0 || col("fold") >= 5).count() === 0)
    // same id → same fold on re-evaluation (hash is pure arithmetic)
    val again = TradeOps.kfoldAssign(trades, k = 5)
    assert(f.orderBy("fold").collect().toSeq ===
      again.orderBy("fold").collect().toSeq)
    f.unpersist()
  }

  test("retractable minmax: multiset totals agree with the linear retract view") {
    val events = Tables.events(spark, sf)
    val mm = graft.ops.Incremental.retractableMinMax(events).cache()
    // bounds are ordered and distinct-value counts can't exceed row counts
    assert(mm.filter(col("min_value_micro") > col("max_value_micro")).count() === 0)
    assert(mm.filter(col("n_live_values") > col("n_live_rows")).count() === 0)
    // the multiset's surviving-row mass must equal the LINEAR retractable
    // view's per-group count — two independent retraction paths, one truth
    val linear = graft.ops.Incremental.incrementalRetract(events)
      .select(col("event_type"), col("day"), col("n_events"))
    val joined = mm.join(linear, Seq("event_type", "day"), "full_outer")
    assert(joined.filter(col("n_live_rows").isNull || col("n_events").isNull ||
      col("n_live_rows") =!= col("n_events")).count() === 0)
    mm.unpersist()
  }

  test("retractable topk: ranks dense from 1, values strictly decreasing") {
    val tk = graft.ops.Incremental.retractableTopK(Tables.events(spark, sf)).cache()
    assert(tk.filter(col("rank") < 1 ||
      col("rank") > graft.ops.Incremental.TopK).count() === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("rank"))
    val seq = tk.withColumn("prev_v", lag(col("value_micro"), 1).over(w))
      .withColumn("prev_r", lag(col("rank"), 1).over(w))
    assert(seq.filter(col("prev_v").isNotNull &&
      (col("prev_v") <= col("value_micro") ||
        col("rank") =!= col("prev_r") + 1)).count() === 0)
    assert(tk.filter(col("rank") === 1).count() ===
      tk.select("event_type").distinct().count())
    tk.unpersist()
  }

  test("salted skew join: row mass conserved, equal to the unsalted join") {
    val skew = graft.ops.Scale.saltedSkewJoin(trades).cache()
    assert(skew.agg(sum(col("n_trades"))).head.getLong(0) === trades.count())
    // salting is a physical rewrite only — the plain broadcast join agrees
    val dim = trades.groupBy("symbol").agg(min(col("price")).as("floor_price"))
    val plain = trades.join(broadcast(dim), "symbol")
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_trades"),
        sum((col("price") - col("floor_price")).cast("decimal(18,6)"))
          .cast("double").as("sum_over_floor"))
    assert(skew.exceptAll(plain).isEmpty && plain.exceptAll(skew).isEmpty)
    skew.unpersist()
  }

  test("nearest as-of matches a brute-force nearest per purchase") {
    val purchases = trades.filter(col("symbol") === "purchase")
      .select("event_id", "user_id", "timestamp", "price")
    val clicks = trades.filter(col("symbol") === "click")
      .groupBy("user_id", "timestamp")
      .agg(max_by(col("price"), col("event_id")).as("click_price"))
    val got = AsOfJoin.asOfNearest(purchases, clicks, "user_id",
        "timestamp", "click_price", "near_price")
      .select("event_id", "delta_ms").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    // timestamps carry sub-ms precision: compare in exact micros and
    // apply the op's magnitude-first ms conversion only at the end
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val cl = clicks.collect()
      .map(r => (r.getLong(0), micros(r.getTimestamp(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    purchases.collect().foreach { p =>
      val (eid, uid, t) = (p.getLong(0), p.getLong(1), micros(p.getTimestamp(2)))
      val expected = cl.get(uid).filter(_.nonEmpty).map { ts =>
        // nearest by |delta| in micros, ties backward (delta <= 0 wins)
        val d = ts.map(c => c - t).minBy(d => (math.abs(d), d))
        if (d < 0) -((-d) / 1000L) else d / 1000L
      }
      assert(got(eid) === expected, s"event $eid")
    }
  }

  test("weighted median: at least half the volume sits on each side") {
    val wm = TradeOps.weightedMedian(trades).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cents = trades.select(col("symbol"), col("price"),
      expr("CAST(round(volume * 100) AS BIGINT)").as("wc")).collect()
    wm.foreach { case (sym, med) =>
      val rows = cents.filter(_.getString(0) === sym)
      val total = rows.map(_.getLong(2)).sum
      val below = rows.filter(_.getDouble(1) <= med).map(_.getLong(2)).sum
      val above = rows.filter(_.getDouble(1) >= med).map(_.getLong(2)).sum
      assert(2 * below >= total, s"$sym: below-mass too small")
      assert(2 * above >= total, s"$sym: above-mass too small")
    }
  }

  test("bloom pruning skips most files and never loses a present key") {
    val probes = Seq(3L, 555L, 4444L, 7777777L)
    val (_, survivors) =
      TradeOps.bloomSurvivingFiles(spark, trades, probes)
    // 4 probe keys against 16 hash-bucketed files: <1% FP rate means
    // at most the ~4 true files plus the odd false positive survive
    assert(survivors.nonEmpty && survivors.length < 16,
      s"bloom pruned nothing: ${survivors.length} files")
    // no false negatives: the pruned lookup returns exactly the rows a
    // full-scan lookup does
    val pruned = TradeOps.bloomPrune(spark, trades, probes)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val full = trades.filter(col("event_id").isin(probes: _*))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(pruned.toSeq === full.toSeq)
  }

  test("asof tolerance: subset of plain asof, staleness bounded, null iff rejected") {
    import spark.implicits._
    val t = Tables.trades(spark, sf)
    val purchases = t.filter(col("symbol") === "purchase")
      .select("event_id", "user_id", "timestamp", "price")
    val clicks = t.filter(col("symbol") === "click")
      .groupBy("user_id", "timestamp")
      .agg(max_by(col("price"), col("event_id")).as("click_price"))
    val tol = graft.ops.AsOfJoin.asOfTolerance(purchases, clicks,
      "user_id", "timestamp", "click_price", "tol_price", 60000L)
    val plain = graft.ops.AsOfJoin.asOf(purchases, clicks,
      "user_id", "timestamp", "click_price", "click_price")
    assert(tol.count() === purchases.count(), "left-join cardinality")
    // staleness in range and payload present exactly together
    assert(tol.filter(col("staleness_ms").isNotNull &&
      (col("staleness_ms") < 0 || col("staleness_ms") > 60000L)).count() === 0)
    assert(tol.filter(col("tol_price").isNotNull =!=
      col("staleness_ms").isNotNull).count() === 0)
    // every accepted payload equals the plain backward-asof payload
    val joined = tol.filter(col("tol_price").isNotNull)
      .select(col("event_id"), col("tol_price"))
      .join(plain.select(col("event_id"), col("click_price")), "event_id")
    assert(joined.filter(col("tol_price") =!= col("click_price")).count() === 0,
      "tolerance accepts only what plain asof matched")
    assert(tol.filter(col("tol_price").isNotNull).count() <=
      plain.filter(col("click_price").isNotNull).count())
  }

  test("ichimoku: emits exactly count-103 rows/symbol, lines inside price range") {
    val rows = TradeOps.ichimoku(trades)
    val perSym = trades.groupBy("symbol").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val emitted = rows.groupBy("symbol").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // c52l = 52 needs rank >= 78; the chikou lead needs rank <= n-26
    perSym.foreach { case (s, n) =>
      assert(emitted.getOrElse(s, 0L) === math.max(0L, n - 103L))
    }
    val bounds = trades.groupBy("symbol")
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.collect().foreach { r =>
      val (lo, hi) = bounds(r.getString(1))
      Seq(3, 4, 5, 6, 7).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= lo - 0.01 && v <= hi + 0.01,
          s"ichimoku line $i=$v outside [$lo,$hi]")
      }
    }
  }

  test("runs test: runs bounded by ticks, expectation formula exact") {
    val rows = TradeOps.runsTest(trades).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (up, down, runs) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(runs >= 1L && runs <= up + down)
      // a run alternation cannot exceed 2*min+1
      assert(runs <= 2L * math.min(up, down) + 1L)
      assert(r.getLong(4) ===
        2L * up * down * 1000000L / (up + down) + 1000000L)
    }
  }

  test("partition evolution: unified read equals the straight filter") {
    val got = TradeOps.partitionEvolution(spark, trades)
      .agg(count(lit(1)), sum(col("event_id"))).head
    val want = trades
      .filter(to_date(col("timestamp")).between("2024-01-14", "2024-01-17") &&
        hour(col("timestamp")) < 12)
      .agg(count(lit(1)), sum(col("event_id"))).head
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    assert(got.getLong(0) > 0L)
  }

  test("gini: in [0,1), zero for a constant distribution") {
    val r = TradeOps.giniActivity(trades).head
    val g = r.getDouble(2)
    assert(g >= 0.0 && g < 1.0, s"gini out of range: $g")
    // a synthetic equal-volume frame must score exactly 0
    val flat = trades.limit(40)
      .withColumn("usd_volume", lit(7.5))
      .withColumn("user_id", col("event_id") % 10)
    assert(TradeOps.giniActivity(flat).head.getDouble(2) === 0.0)
  }

  test("vwma: bounded by window price extremes, full-window emission") {
    val a = TradeOps.vwma(trades)
    assert(a.count() > 0)
    val bounds = trades.groupBy("symbol")
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    a.collect().foreach { r =>
      val (lo, hi) = bounds(r.getString(1))
      assert(r.getDouble(3) >= lo - 0.01 && r.getDouble(3) <= hi + 0.01)
    }
  }

  test("aroon: both channels in [0,100]; window high this bar => up=100") {
    val a = TradeOps.aroon(trades)
    assert(a.count() > 0)
    assert(a.filter(col("aroon_up") < 0 || col("aroon_up") > 100 ||
      col("aroon_down") < 0 || col("aroon_down") > 100).count() === 0)
    // the extreme bar itself scores (n-0)*100/n = 100: both 100s exist
    assert(a.filter(col("aroon_up") === 100).count() > 0)
    assert(a.filter(col("aroon_down") === 100).count() > 0)
  }

  test("burst detect: max_1h <= n_events, ppm consistent and <= 1e6") {
    val rows = graft.ops.EventAnalytics
      .burstDetect(Tables.events(spark, sf)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) === r.getLong(2) * 1000000L / r.getLong(1))
      assert(r.getLong(3) <= 1000000L)
    }
  }

  test("var/es: ES <= VaR (tail mean below its boundary), k = ceil(5% n)") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.varEs(trades).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, varPpm, k, es) =
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))
      assert(k === (n + 19L) / 20L, "k must be ceil(n/20)")
      assert(es <= varPpm,
        s"expected shortfall $es must not exceed the VaR boundary $varPpm")
      // the tail is the k worst returns: its mean is within the return
      // range observed for the symbol
      assert(k >= 1L && k <= n)
    }
  }

  test("moment profile: power sums consistent (Cauchy-Schwarz), guard trips " +
    "on an out-of-range corpus") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.momentProfile(trades).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, s1, s2) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // n*s2 >= s1^2 (Cauchy-Schwarz on the unit vector)
      assert(BigInt(n) * BigInt(s2) >= BigInt(s1) * BigInt(s1))
      assert(s2 >= 0L && r.getLong(5) >= 0L, "even power sums non-negative")
    }
    // the overflow guard must FAIL LOUDLY for prices past the 55108 bound
    import spark.implicits._
    val big = Seq((1L, 1L, "X", new java.sql.Timestamp(0L), 60000.0, 1.0, 1.0))
      .toDF("event_id", "user_id", "symbol", "timestamp", "price",
        "volume", "usd_volume")
    // two loud-failure layers: Spark 4's default ANSI mode throws on
    // the per-row product before the guard can see the aggregate; with
    // ANSI off the assert_true guard catches the n·mx⁴ bound instead.
    // Either way: an error, never a silent wrap.
    val ex = intercept[Exception] {
      graft.ops.TradeOps.momentProfile(big).collect()
    }
    assert(ex.getMessage.contains("moment_profile") ||
      ex.getMessage.contains("ARITHMETIC_OVERFLOW"),
      s"guard must raise, not wrap: ${ex.getMessage.take(120)}")
  }

  test("mfi: ppm in [0,1e6], flows partition (pos+neg <= total window flow)") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.mfi(trades).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pos, neg, ppm) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(pos >= 0L && neg >= 0L)
      assert(ppm >= 0L && ppm <= 1000000L)
      assert(ppm === pos * 1000000L / (pos + neg))
    }
  }

  test("interarrival: decades are digit counts, sum telescopes to the span") {
    val events = Tables.events(spark, sf)
    val rows = graft.ops.EventAnalytics.interarrival(events).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dec, mn, mx) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(dec >= 0L && dec <= 18L)
      // every gap in the bucket has exactly dec+1 digits (clamped at 1)
      assert(math.max(mn, 1L).toString.length - 1 === dec)
      assert(math.max(mx, 1L).toString.length - 1 === dec)
      assert(mn <= mx)
    }
    // per type: sum of gaps across buckets = last ts - first ts
    val spans = events.withColumn("us", unix_micros(col("ts")))
      .groupBy("event_type").agg((max(col("us")) - min(col("us"))).as("span"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      assert(rs.map(_.getLong(5)).sum === spans(tpe),
        s"gap sum must telescope to the $tpe span")
    }
  }

  test("markov stationary: mass conserved within floor-loss, fixed point " +
    "of a deterministic chain") {
    val events = Tables.events(spark, sf)
    val rows = graft.ops.EventAnalytics.markovStationary(events).collect()
    assert(rows.nonEmpty)
    val mass = rows.map(_.getLong(1)).sum
    // each of the 8 rounds loses < |types| micro to floor division of
    // the ppm matrix rows plus < |types| micro to the x-product floors
    assert(mass <= 1000000L && mass > 1000000L - 8L * 2L * rows.length * 200L,
      s"stationary mass drifted: $mass")
    rows.foreach(r => assert(r.getLong(1) >= 0L))
    // a deterministic 2-state chain: A->B always, B->A always has
    // stationary (1/2, 1/2); even rounds land back on the start
    import spark.implicits._
    val ab = (0 until 10).flatMap(i => Seq(
      (i * 2L, 1L, "A", new java.sql.Timestamp(i * 2000L), 0.0, ""),
      (i * 2L + 1L, 1L, "B", new java.sql.Timestamp(i * 2000L + 1000L),
        0.0, "")))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
    val st = graft.ops.EventAnalytics.markovStationary(ab).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("A") === 500000L && st("B") === 500000L)
  }

  test("simpson diversity: index in [0,1), exact complement of " +
    "concentration, single-user type scores 0") {
    val events = Tables.events(spark, sf)
    val rows = graft.ops.EventAnalytics.simpsonDiversity(events).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nu, ne, ss, idx) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(idx >= 0.0 && idx < 1.0)
      assert(math.abs(idx - (1.0 - ss.toDouble / (ne.toDouble * ne.toDouble)))
        < 1e-12)
      assert(ss >= ne, "sum of squares >= sum (nu >= 1)")
      assert(nu <= ne)
    }
    import spark.implicits._
    val solo = Seq((1L, 7L, "only", new java.sql.Timestamp(0L), 0.0, ""),
      (2L, 7L, "only", new java.sql.Timestamp(1L), 0.0, ""))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
    val r = graft.ops.EventAnalytics.simpsonDiversity(solo).head
    assert(r.getDouble(4) === 0.0, "one user owning a type must score 0")
  }

  test("partition diff: exactly the revised day flagged, base " +
    "fingerprints stable") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.partitionDiff(trades).collect()
    assert(rows.nonEmpty)
    val changed = rows.filter(_.getBoolean(5))
    assert(changed.length === 1, "exactly one day revised")
    assert(changed.head.getTimestamp(0).toString.startsWith("2024-01-15"))
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(3),
        "a pure price revision preserves row counts")
      if (!r.getBoolean(5)) assert(r.getLong(2) === r.getLong(4),
        "unchanged day must keep its fingerprint")
    }
  }

  test("revenue deciles: partition customers evenly, shares sum to ~1e6, " +
    "deciles ordered by revenue") {
    val rows = graft.ops.Relational.revenueDeciles(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === (1L to 10L))
    val counts = rows.map(_.getLong(1))
    assert(counts.max - counts.min <= 1L, "ntile balance")
    val shares = rows.map(_.getLong(5)).sum
    assert(shares <= 1000000L && shares > 1000000L - 10L)
    // decile boundaries are monotone: decile d's max <= decile d+1's min
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) <= b.getLong(3),
        "deciles must be revenue-ordered")
    }
  }

  test("seasonal profile: shares partition each type, dow/hr in range, " +
    "grid totals match the feed") {
    val events = Tables.events(spark, sf)
    val rows = graft.ops.EventAnalytics.seasonalProfile(events).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(3)).sum === events.count())
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 7L)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 23L)
    }
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      val s = rs.map(_.getLong(4)).sum
      assert(s <= 1000000L && s > 1000000L - rs.length,
        s"$tpe shares must partition within floor loss")
    }
    // ISO pin: 2024-01-01 was a Monday -> dow 1
    import spark.implicits._
    val monday = Seq((1L, 1L, "x",
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 0.0, ""))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
    assert(graft.ops.EventAnalytics.seasonalProfile(monday)
      .head.getLong(1) === 1L)
  }

  test("vol regime: transition counts conserve ticks, regimes in 1..3, " +
    "terciles balanced within 1") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.volRegime(trades).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 3L)
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 3L)
      assert(r.getLong(3) >= 1L)
    }
    // per symbol: sum of transitions = classified ticks - 1, and the
    // from-regime marginals are ntile-balanced (within 1 of each other,
    // up to the one tick that has no successor)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byFrom = rs.groupBy(_.getLong(1)).map(_._2.map(_.getLong(3)).sum)
      assert(byFrom.max - byFrom.min <= 2L,
        s"tercile marginals must balance: $byFrom")
    }
  }

  test("amihud: tick conservation (one gap per tick after the first), " +
    "ppb non-negative") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.amihud(trades).collect()
    val expected = trades.count() -
      trades.select("symbol").distinct().count()
    assert(rows.map(_.getLong(2)).sum === expected)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(5) >= 0L)
    }
  }

  test("bot score: ranked, bounded, exact integer fold of the parts") {
    val rows = graft.ops.EventAnalytics.botScore(Tables.events(spark, sf))
      .orderBy("rank").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length))
    rows.foreach { r =>
      val (b, n, w, s) = (r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6))
      assert(s === (b * 500 + n * 300 + w * 200) / 1000)
      assert(s >= 0L && s <= 1000000L)
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(6) <= a.getLong(6), "scores non-increasing by rank")
    }
  }

  test("vpin: volume conserved on the volume clock, imbalance in [0, 1e6], " +
    "bars contiguous") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.vpin(trades).collect()
    val totalMicro = trades
      .selectExpr("sum(CAST(round(volume * 1000000) AS BIGINT)) AS s")
      .head.getLong(0)
    assert(rows.map(_.getLong(3)).sum === totalMicro,
      "every micro-unit of volume lands in exactly one bar")
    rows.foreach(r =>
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L))
    rows.groupBy(_.getString(0)).foreach { case (sym, rs) =>
      val bars = rs.map(_.getLong(1)).sorted.toSeq
      assert(bars === (0 until bars.length).map(_.toLong),
        s"$sym bars must be contiguous from 0: $bars")
    }
  }

  test("rollback: forward metadata commit, audit version serveable, " +
    "retention enforced after the next merge's GC") {
    import spark.implicits._
    import graft.sinks.Upsert
    val root = tmpDir("graft-rb")
    def df(v: Long) = Seq(("A", v)).toDF("k", "v")
    Upsert.merge(df(1L), 0L, root, Seq("k")) // v0: A->1
    Upsert.merge(df(2L), 1L, root, Seq("k")) // v1: A->2
    val nv = Upsert.rollback(root, 0L)
    assert(nv === 2L, "rollback commits forward, never rewinds numbers")
    assert(Upsert.currentVersion(root).contains(2L))
    assert(Upsert.read(spark, root).get.select("v").head.getLong(0) === 1L,
      "current state is the restored snapshot")
    assert(Upsert.readVersion(spark, root, 1L).get
      .select("v").head.getLong(0) === 2L,
      "the rolled-back-from version stays time-travel-readable")
    // a merge after the rollback continues the chain and its GC drops
    // manifests beyond the last-two retention
    Upsert.merge(df(3L), 2L, root, Seq("k")) // v3: A->3
    assert(Upsert.read(spark, root).get.select("v").head.getLong(0) === 3L)
    assert(Upsert.readVersion(spark, root, 2L).get
      .select("v").head.getLong(0) === 1L)
    assert(Upsert.readVersion(spark, root, 0L).isEmpty,
      "beyond retention returns None")
    intercept[IllegalArgumentException] {
      Upsert.rollback(root, 0L) // GC'd target must fail loudly
    }
  }

  test("volume profile: shares partition each symbol, bands hold prices") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.volumeProfile(trades).collect()
    assert(rows.map(_.getLong(2)).sum === trades.count())
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ppm = rs.map(_.getLong(4)).sum
      // floor-division shares telescope to <= 1e6 within bands-1 ulps
      assert(ppm <= 1000000L && ppm > 1000000L - rs.length,
        s"per-symbol shares must telescope to ~1e6: $ppm")
    }
    rows.foreach(r => assert(r.getDouble(3) > 0.0))
  }

  test("ship latency: lines conserved, week buckets consistent") {
    val rows = graft.ops.Relational.shipLatency(spark, sf).collect()
    val nLines = Tables.load(spark, sf, "lineitem").count()
    assert(rows.map(_.getLong(2)).sum === nLines,
      "every lineitem lands in exactly one (priority, week) cell")
    rows.foreach { r =>
      val (wk, mn, mx) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(mn <= mx)
      assert(mn / 7 == wk || mx / 7 == wk || (mn / 7 <= wk && wk <= mx / 7),
        s"week bucket $wk must cover its day range [$mn, $mx]")
    }
  }

  test("order gap hist: gaps conserved, sums within min/max envelope") {
    val orders = Tables.load(spark, sf, "orders")
    val rows = graft.ops.Relational.orderGapHist(spark, sf).collect()
    val expected = orders.count() -
      orders.select("o_custkey").distinct().count()
    assert(rows.map(_.getLong(1)).sum === expected,
      "one gap per consecutive order pair per customer")
    rows.foreach { r =>
      val (n, mn, mx, s) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(mn <= mx && s >= mn * n && s <= mx * n)
    }
  }

  test("audience overlap: jaccard bounded, intersection within set sizes") {
    val events = Tables.events(spark, sf)
    val rows = graft.ops.EventAnalytics.audienceOverlap(events).collect()
    assert(rows.nonEmpty)
    val types = events.select("event_type").distinct().count()
    assert(rows.length <= types * (types - 1) / 2)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "ordered pair type_a < type_b")
      val (na, nb, common) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(common >= 1L && common <= math.min(na, nb))
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000000L)
    }
  }

  test("subsample stability: interval ordered, exact split-division mean") {
    val trades = Tables.trades(spark, sf)
    val rows = graft.ops.TradeOps.subsampleStability(trades).collect()
    assert(rows.nonEmpty)
    // direct exact recomputation of the overall mean via BigInt — the
    // split division must floor identically
    val direct = trades
      .selectExpr("symbol", "CAST(round(price * 100) AS BIGINT) AS pc")
      .collect().groupBy(_.getString(0))
      .map { case (s, rs) =>
        val sum = rs.map(r => BigInt(r.getLong(1))).sum
        s -> (sum * 1000000 / rs.length).toLong
      }
    rows.foreach { r =>
      assert(r.getLong(2) === direct(r.getString(0)),
        "split-division mean must equal the exact BigInt mean")
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 16L)
      assert(r.getLong(4) <= r.getLong(5), "lo <= hi")
      assert(r.getLong(6) === r.getLong(5) - r.getLong(4))
    }
  }

  test("rate change: one split per type, exact ppm means, day in range") {
    val events = Tables.events(spark, sf)
    val rows = graft.ops.EventAnalytics.rateChange(events).collect()
    val types = events.select("event_type").distinct().count()
    assert(rows.length === types, "exactly one change-point per type")
    val (minDay, maxDay) = {
      val r = events.selectExpr(
        "min(unix_micros(ts) div 86400000000)",
        "max(unix_micros(ts) div 86400000000)").head
      (r.getLong(0), r.getLong(1))
    }
    rows.foreach { r =>
      val day = r.getLong(1)
      assert(day >= minDay && day < maxDay,
        "split day must leave a non-empty after-side")
      assert(r.getLong(2) >= 0L)
      assert(r.getLong(3) >= 0L && r.getLong(4) >= 0L)
      // the chosen split's score is within one div-rounding unit of
      // the emitted mean gap (same algebra on one denominator)
      assert(math.abs(math.abs(r.getLong(3) - r.getLong(4)) -
        r.getLong(2)) <= 2L)
    }
  }

  test("donchian: breaks bounded by ticks, widths ordered and non-negative") {
    val rows = graft.ops.TradeOps.donchian(Tables.trades(spark, sf))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ticks = r.getLong(1)
      assert(r.getLong(2) + r.getLong(3) <= ticks,
        "a tick breaks at most one side")
      assert(r.getLong(4) >= r.getLong(5) && r.getLong(5) >= 0L,
        "channel widths ordered, non-negative")
    }
  }

  test("vol regime banded: bit-identical to the exact ntile form " +
    "(banding is a physical rewrite)") {
    val trades = Tables.trades(spark, sf)
    val exact = graft.ops.TradeOps.volRegime(trades).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val banded = graft.ops.TradeOps.volRegimeBanded(trades).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(banded === exact,
      s"banded two-pass rank diverged: only-exact=${exact -- banded} " +
        s"only-banded=${banded -- exact}")
  }

  test("Num.decD: value-parity below 2^53 micro, null-safe, loud past " +
      "the micro-BIGINT ceiling") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1. Below 2^53 micro-units the micro-BIGINT route is bit-identical
    //    to the direct decimal cast (the r13 sweep's value-neutrality
    //    claim at gate SFs).
    val vals = Seq("0.000001", "123456.789012", "-9876543.210987",
      "9007199254.740992", "-9007199254.740991")
    val df = vals.toDF("s").select(col("s").cast("decimal(18,6)").as("d"))
    val both = df.select(graft.Num.decD(col("d")).as("a"),
      col("d").cast("double").as("b")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"decD diverged below 2^53: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    // 2. Null aggregate -> null output, no guard trip.
    val n = Seq.empty[java.lang.Double].toDF("x")
      .agg(graft.Num.decD(sum(col("x").cast("decimal(18,6)")))).collect()
    assert(n.head.isNullAt(0))
    // 3. Past the ceiling the guard fails LOUDLY (DuckDB's mirrored
    //    CAST AS BIGINT raises natively there) — never a silent null.
    val boom = intercept[Exception] {
      Seq("9300000000000.0").toDF("s")
        .select(graft.Num.decD(col("s").cast("decimal(18,6)"))).collect()
    }
    assert(boom.getMessage != null)
  }

  test("Num.decDWin: value-identical to the decimal-sum decD route, " +
      "loud past the micro-BIGINT ceiling (ANSI long-sum overflow)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val w = Window.partitionBy("g").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // 1. Bit-identity with the decimal-window-sum + decD form the
    //    oracles mirror — the swap is value-free by construction.
    val df = Seq((1, 1, "0.000001"), (1, 2, "123456.789012"),
      (1, 3, "-987.654321"), (2, 1, "42.5"), (2, 2, "0.1"))
      .toDF("g", "i", "s").select(col("g"), col("i"),
        col("s").cast("double").as("x"))
    val both = df.select(
      graft.Num.decDWin(col("x"), w).as("a"),
      graft.Num.decD(sum(col("x").cast("decimal(18,6)")).over(w)).as("b"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"decDWin diverged from decD: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    // 2. A frame whose micro sum crosses 2^63 fails LOUDLY (the ANSI
    //    long-sum overflow; DuckDB's mirrored CAST(sum * 1e6 AS BIGINT)
    //    raises there too) — never a silent wrap. Rows stay inside the
    //    per-row DECIMAL(18,6) range (< 1e12); eleven 9e11-unit rows
    //    push the frame total past 9.22e12 units.
    val boom = intercept[Exception] {
      (1 to 11).map(i => (1, i, 9.0e11)).toDF("g", "i", "x")
        .select(graft.Num.decDWin(col("x"), w)).collect()
    }
    assert(boom.getMessage != null)
  }

  test("roll spread: cov_num matches a BigInt driver recompute, spread " +
      "defined iff negative serial covariance, n_pairs = n - 2") {
    import org.apache.spark.sql.functions._
    val trades = graft.Tables.trades(spark, sf)
    val out = graft.ops.TradeOps.rollSpread(trades).collect()
      .map(r => r.getString(0) -> r).toMap
    val perSym = trades.select("symbol", "timestamp", "event_id", "price")
      .collect().groupBy(_.getString(0))
    perSym.foreach { case (sym, rows) =>
      val pc = rows.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
        .map(r => math.round(r.getDouble(3) * 100))
      val d = pc.sliding(2).map(a => BigInt(a(1) - a(0))).toArray
      val pairs = d.sliding(2).map(a => (a(1), a(0))).toArray
      val n = pairs.length.toLong
      // the engine's exact double form: each sum is < 2^53 (guard), so
      // this driver-side recompute is the identical IEEE arithmetic
      val sxy = pairs.map(p => (p._1 * p._2).toLong).sum
      val sx = pairs.map(_._1.toLong).sum
      val sy = pairs.map(_._2.toLong).sum
      val covNum = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val r = out(sym)
      assert(r.getLong(1) == pc.length - 2, s"$sym n_pairs")
      assert(math.abs(r.getDouble(2) - covNum / n.toDouble / n.toDouble)
        < 5e-7, s"$sym serial_cov")
      assert(r.isNullAt(3) == (covNum >= 0), s"$sym spread-definedness")
      if (covNum < 0)
        assert(math.abs(r.getDouble(3) -
          2.0 * math.sqrt(-covNum) / n.toDouble) < 5e-7)
    }
  }

  test("supplier hhi: shares telescope to <= 1e6 with < 1 ppm floor loss " +
      "per supplier, hhi within [top_share^2/1e6, 1e6]") {
    val df = graft.ops.Relational.supplierHhi(spark, sf)
    import org.apache.spark.sql.functions._
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val top = r.getLong(3); val hhi = r.getLong(4)
      assert(top <= 1000000L && hhi <= 1000000L)
      assert(hhi >= top * top / 1000000L,
        s"hhi below its top-share lower bound: $hhi vs $top")
      assert(hhi >= 1000000L / n - n, "hhi below the equal-share floor")
    }
  }

  test("rolling wau: wau >= dau, window_end clipped to the last active " +
      "day, one window recomputed exactly") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf)
    val out = graft.ops.EventAnalytics.rollingWau(ev).collect()
      .map(r => r.getTimestamp(0) -> r).toMap
    assert(out.nonEmpty)
    out.values.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), "wau < dau")
      assert(r.getLong(3) <= 1000000L)
    }
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getDate(1)))
    val maxDay = ud.map(_._2.toLocalDate).max(Ordering.by((d:
      java.time.LocalDate) => d.toEpochDay))
    assert(!out.keys.exists(_.toLocalDateTime.toLocalDate.isAfter(maxDay)))
    val probe = maxDay
    val wau = ud.filter { case (_, d) =>
      val delta = probe.toEpochDay - d.toLocalDate.toEpochDay
      delta >= 0 && delta < 7
    }.map(_._1).distinct.length
    val dau = ud.filter(_._2.toLocalDate == probe).map(_._1).distinct.length
    val r = out(java.sql.Timestamp.valueOf(probe.atStartOfDay))
    assert(r.getLong(1) == wau && r.getLong(2) == dau,
      s"recompute mismatch: ${r.getLong(1)}/$wau ${r.getLong(2)}/$dau")
  }

  test("bootstrap ci: envelope brackets the overall mean, multiplicity " +
      "law is the exact Poisson ppm CDF, reps complete") {
    val df = graft.ops.TradeOps.bootstrapCi(
      graft.Tables.trades(spark, sf)).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val (mean, lo, hi) = (r.getLong(2), r.getLong(4), r.getLong(5))
      assert(r.getLong(3) == 16L, "a rep produced no rows")
      // the overall mean need not sit inside a finite-B envelope, but
      // the envelope must be ordered and near it (resamples of mean 1)
      assert(lo <= hi)
      assert(r.getLong(6) == hi - lo)
      assert(math.abs(mean - (lo + hi) / 2) < math.max(mean / 10, 1),
        s"envelope far from the mean: $mean vs [$lo, $hi]")
    }
    // the ppm thresholds are the Poisson(1) CDF to the printed digit
    val cdf = Seq(367879, 735759, 919699, 981012, 996340, 999406, 999917)
    val pmf = Seq(0.3678794412, 0.3678794412, 0.1839397206, 0.0613132402,
      0.0153283100, 0.0030656620, 0.0005109437)
    var acc = 0d
    cdf.zip(pmf).foreach { case (c, p) =>
      acc += p
      assert(math.abs(c - acc * 1e6) < 1.0, s"threshold $c vs ${acc * 1e6}")
    }
  }

  test("parkinson range: per-day squared ranges telescope and the " +
      "vol is sqrt of their mean") {
    import org.apache.spark.sql.functions._
    val trades = graft.Tables.trades(spark, sf)
    val out = graft.ops.TradeOps.parkinsonRange(trades).collect()
    assert(out.nonEmpty)
    val byKey = trades
      .withColumn("pc", expr("CAST(round(price * 100) AS BIGINT)"))
      .groupBy(col("symbol"), date_trunc("minute", col("timestamp")))
      .agg(max("pc").as("hi"), min("pc").as("lo")).collect()
      .groupBy(r => (r.getString(0),
        r.getTimestamp(1).toLocalDateTime.toLocalDate))
    out.foreach { r =>
      val key = (r.getString(0), r.getTimestamp(1).toLocalDateTime.toLocalDate)
      val bars = byKey(key)
      val expect = bars.map(b => {
        val d = b.getLong(2) - b.getLong(3); d * d
      }).sum
      assert(r.getLong(2) == bars.size, s"$key n_bars")
      assert(r.getLong(3) == expect, s"$key sum_range2")
      assert(math.abs(r.getDouble(4) -
        math.sqrt(expect.toDouble / bars.size)) < 5e-7)
    }
  }

  test("decile migration: per (year, from_decile) fan-in telescopes to " +
      "the decile population, churn row counted, deciles in 0..10") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.Relational.decileMigration(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 10)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 10)
    }
    // fan-in: sum of n_customers over to_decile = that year-decile's
    // population from a direct recompute
    val per = graft.Tables.load(spark, sf, "orders")
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n"))
      .groupBy("y").agg(count(lit(1)).as("pop")).collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    out.groupBy(r => r.getLong(0)).foreach { case (year, rows) =>
      assert(rows.map(_.getLong(3)).sum == per(year),
        s"year $year fan-in != population")
    }
  }

  test("rate anomaly: med and mad are true lower medians of a driver " +
      "recompute and the flag is the exact integer cut") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf)
    val out = graft.ops.EventAnalytics.rateAnomaly(ev).collect()
    assert(out.nonEmpty)
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")).collect()
      .groupBy(_.getString(0))
    def lowerMedian(xs: Seq[(Long, java.sql.Date)]): Long = {
      val sorted = xs.sortBy(x => (x._1, x._2.toString))
      sorted(((sorted.size + 1) / 2) - 1)._1
    }
    daily.foreach { case (tpe, rows) =>
      val med = lowerMedian(rows.map(r => (r.getLong(2), r.getDate(1))).toSeq)
      val mad = lowerMedian(rows.map(r =>
        (math.abs(r.getLong(2) - med), r.getDate(1))).toSeq)
      out.filter(_.getString(0) == tpe).foreach { r =>
        assert(r.getLong(3) == med, s"$tpe med")
        assert(r.getLong(4) == mad, s"$tpe mad")
        assert(r.getBoolean(5) ==
          ((r.getLong(2) - med) * 10000L > 44478L * mad))
      }
    }
  }

  test("rolling beta: full frames only, and the last frame's slope " +
      "matches a BigInt driver recompute") {
    import org.apache.spark.sql.functions._
    val trades = graft.Tables.trades(spark, sf)
    val out = graft.ops.TradeOps.rollingBeta(trades).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(2) == 10L), "a partial frame leaked")
    // recompute per symbol over the full-coverage daily bars
    val bars = trades
      .withColumn("pd", expr("CAST(round(price) AS BIGINT)"))
      .groupBy(date_trunc("day", col("timestamp")).as("hr"), col("symbol"))
      .agg(max_by(col("pd"), col("event_id")).as("x")).collect()
    val bySym = bars.groupBy(_.getString(1))
    val nSym = bySym.size
    val idx = bars.groupBy(_.getTimestamp(0)).collect {
      case (hr, rs) if rs.size == nSym => hr -> rs.map(_.getLong(2)).sum
    }.toMap
    bySym.foreach { case (sym, rs) =>
      val series = rs.filter(r => idx.contains(r.getTimestamp(0)))
        .sortBy(_.getTimestamp(0).getTime)
        .map(r => (BigInt(r.getLong(2)), BigInt(idx(r.getTimestamp(0)))))
      if (series.size >= 10) {
        val f = series.takeRight(10)
        val n = BigInt(10)
        val (sx, sm) = (f.map(_._1).sum, f.map(_._2).sum)
        val sxm = f.map(p => p._1 * p._2).sum
        val smm = f.map(p => p._2 * p._2).sum
        val den = n * smm - sm * sm
        val expect = if (den == 0) None
          else Some((n * sxm - sx * sm).toDouble / den.toDouble)
        val last = out.filter(_.getString(0) == sym)
          .maxBy(_.getTimestamp(1).getTime)
        expect match {
          case Some(b) => assert(math.abs(last.getDouble(3) - b) < 1e-12,
            s"$sym beta ${last.getDouble(3)} vs $b")
          case None => assert(last.isNullAt(3))
        }
      }
    }
  }

  test("variance ratio: BigInt driver recompute per symbol, trend tape " +
      "degenerates to NULL") {
    import spark.implicits._
    val k = 5
    val vr = TradeOps.varianceRatio(trades, k)
      .select("symbol", "n_rets", "n_krets", "variance_ratio")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(vr.nonEmpty)
    // driver recompute from the ordered cent series, exact integers
    val bySym = trades
      .select(col("symbol"), col("timestamp"), col("event_id"),
        expr("CAST(round(price * 100) AS BIGINT)").as("pc"))
      .as[(String, java.sql.Timestamp, Long, Long)]
      .collect().groupBy(_._1)
    bySym.foreach { case (sym, rows) =>
      val pcs = rows.sortBy(r => (r._2.getTime, r._3)).map(_._4)
      if (pcs.length >= k + 2) {
        val d1 = pcs.sliding(2).map(p => BigInt(p(1) - p(0))).toSeq
        val dk = pcs.sliding(k + 1).map(p => BigInt(p(k) - p(0))).toSeq
        val (n1, nk) = (BigInt(d1.length), BigInt(dk.length))
        val v1x = n1 * d1.map(x => x * x).sum - d1.sum * d1.sum
        val vkx = nk * dk.map(x => x * x).sum - dk.sum * dk.sum
        val (g1, g2, g3) = vr(sym)
        assert(g1 === d1.length.toLong && g2 === dk.length.toLong)
        if (v1x == 0) assert(g3.isEmpty, s"$sym: flat tape must be NULL")
        else {
          val expect = (vkx.toDouble * n1.toDouble * n1.toDouble) /
            (k.toDouble * nk.toDouble * nk.toDouble * v1x.toDouble)
          assert(math.abs(g3.get - expect) < 1e-9 * math.abs(expect).max(1.0),
            s"$sym vr ${g3.get} vs $expect")
        }
      }
    }
    // a pure trend (constant increment) has zero 1-tick variance → NULL
    val trend = (1 to 30).map(i =>
      (i.toLong, "T", new java.sql.Timestamp(1700000000000L + i * 1000L),
        10.0 + i * 0.01, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val t = TradeOps.varianceRatio(trend, k).collect()
    assert(t.length === 1 && t(0).isNullAt(3),
      "constant-increment tape must yield NULL variance ratio")
  }

  test("kyle lambda: perfect linear impact recovers the slope exactly, " +
      "flat flow is NULL") {
    import spark.implicits._
    // price steps by exactly vc cents per tick with positive flow:
    // y = x in centi-units → OLS slope 1 → ×100 = 100 cents per unit
    var pc = 100000L
    val rows = (1 to 25).map { i =>
      val vol = (i % 5 + 1) * 1.0 // 1..5 units → vc = 100..500
      pc += (vol * 100).toLong // uptick by vc cents → sgn = +1, x = vc
      (i.toLong, "K", new java.sql.Timestamp(1700000000000L + i * 1000L),
        pc / 100.0, vol)
    }
    val df = rows.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val out = TradeOps.kyleLambda(df).collect()
    assert(out.length === 1)
    assert(out(0).getLong(1) === 24L) // first tick has no delta
    assert(math.abs(out(0).getDouble(2) - 100.0) < 1e-9,
      s"perfect impact slope: ${out(0).getDouble(2)}")
    // constant price → every d = 0, sgn stays 0, denominator 0 → NULL
    val flat = (1 to 10).map(i =>
      (i.toLong, "F", new java.sql.Timestamp(1700000000000L + i * 1000L),
        10.0, 2.0)).toDF("event_id", "symbol", "timestamp", "price", "volume")
    val f = TradeOps.kyleLambda(flat).collect()
    assert(f.length === 1 && f(0).isNullAt(2))
  }

  test("keltner: bands bracket the mid symmetrically; rank drift is " +
      "exact ppm with monotone tapes at the extremes") {
    import spark.implicits._
    val kc = TradeOps.keltner(trades)
    assert(kc.count() > 0)
    assert(kc.filter(col("kc_upper") < col("kc_mid") ||
      col("kc_mid") < col("kc_lower")).count() === 0)
    assert(kc.filter(
      abs((col("kc_upper") + col("kc_lower")) / 2.0 - col("kc_mid"))
        > 1e-9).count() === 0, "bands symmetric about the mid")
    val rd = TradeOps.rankDrift(trades)
    assert(rd.filter(col("auc_ppm") < 0L || col("auc_ppm") > 1000000L)
      .count() === 0)
    val tapeTotals = trades.groupBy("symbol").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rd.collect().foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === tapeTotals(r.getString(0)))
    }
    // strictly rising tape: every later tick outranks every earlier one
    def tape(sym: String, step: Long) = (1 to 20).map(i =>
      (i.toLong, sym, new java.sql.Timestamp(1700000000000L + i * 1000L),
        100.0 + i * step * 0.01, 1.0))
    val mono = (tape("UP", 1L) ++ tape("DN", -1L))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val m = TradeOps.rankDrift(mono).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m === Map("UP" -> 1000000L, "DN" -> 0L), s"extremes: $m")
  }

  test("adx: ppm ratios bounded by construction; acf profile lag-1 " +
      "equals the single-lag autocorr bit-exactly") {
    val adx = TradeOps.adx(trades)
    assert(adx.count() > 0)
    assert(adx.filter(col("di_plus_ppm") < 0L || col("di_plus_ppm") > 1000000L ||
      col("di_minus_ppm") < 0L || col("di_minus_ppm") > 1000000L ||
      col("dx_ppm") < 0L || col("dx_ppm") > 1000000L).count() === 0,
      "DM <= TR per bar forces DI, DX into [0, 1e6] ppm")
    val acf = TradeOps.acfProfile(trades).cache()
    assert(acf.filter(abs(col("acf")) > 1.05).count() === 0)
    assert(acf.select("lag").distinct().count() === 5)
    // lag-1 row IS the a23 autocorr (same exact-integer spine)
    val joined = acf.filter(col("lag") === 1L)
      .join(TradeOps.autocorr(trades), "symbol")
      .filter(col("acf").isNotNull)
    assert(joined.filter(col("acf") =!= col("autocorr_lag1")).count() === 0,
      "acf(1) must equal autocorr_lag1 bit-exactly")
    acf.unpersist()
  }

  test("sharpe: BigInt recompute matches per symbol; a flat tape is NULL") {
    import spark.implicits._
    // recompute each symbol's S = s1 / sqrt(n*s11 - s1^2) in BigInt
    val bars = trades
      .withColumn("pc", expr("CAST(round(price * 100) AS BIGINT)"))
      .groupBy(col("symbol"), to_date(col("timestamp")).as("day"))
      .agg(max_by(col("pc"), col("event_id")).as("cl"))
      .collect().groupBy(_.getString(0))
    val got = TradeOps.sharpe(trades).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    bars.foreach { case (sym, rows) =>
      val cls = rows.sortBy(_.getDate(1).toString).map(_.getLong(2))
      if (cls.length >= 2) {
        val d = cls.sliding(2).map(p => BigInt(p(1) - p(0))).toSeq
        val rad = BigInt(d.length) * d.map(x => x * x).sum - d.sum * d.sum
        val (n, s) = got(sym)
        assert(n === d.length.toLong)
        if (rad <= 0) assert(s.isEmpty)
        else assert(math.abs(s.get -
          d.sum.toDouble / math.sqrt(rad.toDouble)) < 1e-12)
      }
    }
    // no symbol of the seeded feed has zero-variance daily moves, so a
    // flat tape (every move 0) checks the NULL branch
    val flat = (1 to 5).map(i => (i.toLong, "F",
      new java.sql.Timestamp(1700000000000L + i * 86400000L), 10.0, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val f = TradeOps.sharpe(flat).head()
    assert(f.getLong(1) === 4L && f.isNullAt(2))
  }

  test("adf: random-walk synthetic yields beta near 0, mean-reverting " +
      "strongly negative t; new/returning telescopes to DAU") {
    import spark.implicits._
    // strongly mean-reverting tape: price alternates around a level →
    // Δp ≈ −2·(p − level) → beta ≈ −2, t large negative
    val mr = (1 to 60).map(i =>
      (i.toLong, "MR", new java.sql.Timestamp(1700000000000L + i * 1000L),
        // imperfect alternation (a perfectly linear Δp↔level relation
        // has SSE = 0 and NULLs out via the degenerate-fit guard)
        if (i % 2 == 0) 101.0 + (i % 7) * 0.1 else 99.0 - (i % 5) * 0.1,
        1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val t = TradeOps.adfStat(mr).collect()(0)
    assert(t.getDouble(2) < -1.5, s"beta ${t.getDouble(2)}")
    assert(t.getDouble(3) < -3.0, s"adf_t ${t.getDouble(3)}")
    // flat tape: zero-variance level → NULL everything
    val flat = (1 to 10).map(i =>
      (i.toLong, "F", new java.sql.Timestamp(1700000000000L + i * 1000L),
        10.0, 1.0)).toDF("event_id", "symbol", "timestamp", "price", "volume")
    val f = TradeOps.adfStat(flat).collect()(0)
    assert(f.isNullAt(2) && f.isNullAt(3))
    // real data: every symbol emits, |beta| sane
    val real = TradeOps.adfStat(trades)
    assert(real.count() === trades.select("symbol").distinct().count())
    val ev = Tables.events(spark, sf)
    val nr = graft.ops.EventAnalytics.newReturning(ev).cache()
    assert(nr.filter(col("dau") =!= col("n_new") + col("n_returning"))
      .count() === 0)
    assert(nr.agg(sum(col("n_new"))).head.getLong(0)
      === ev.select("user_id").distinct().count(),
      "every user is new exactly once")
    nr.unpersist()
  }

  test("lifespan histogram partitions the user base") {
    val events = Tables.events(spark, sf)
    val ls = graft.ops.EventAnalytics.lifespanHist(events).cache()
    assert(ls.agg(sum(col("n_users"))).head.getLong(0)
      === events.select("user_id").distinct().count())
    assert(ls.agg(sum(col("n_events"))).head.getLong(0) === events.count())
    assert(ls.filter(col("min_days") > col("max_days")).count() === 0)
    // week bucket brackets its members' day spans
    assert(ls.filter(col("min_days") < col("span_wk") * 7L ||
      col("max_days") >= (col("span_wk") + 1L) * 7L).count() === 0)
    ls.unpersist()
  }

  test("cci: BigInt recompute matches exactly; flat frames NULL; " +
      "monotone ramp is positive at the frame head") {
    import spark.implicits._
    val n = 20
    // recompute every emitted CCI from the raw hourly bars in BigInt
    val bars = trades
      .withColumn("pc", expr("CAST(round(price * 100) AS BIGINT)"))
      .groupBy(date_trunc("hour", col("timestamp")).as("hr"), col("symbol"))
      .agg((max(col("pc")) + min(col("pc"))
        + max_by(col("pc"), col("event_id"))).as("tp3"))
      .collect().groupBy(_.getString(1))
    val got = TradeOps.cci(trades).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    var checked = 0
    bars.foreach { case (sym, rows) =>
      val seq = rows.sortBy(_.getTimestamp(0).getTime)
        .map(r => (r.getTimestamp(0), BigInt(r.getLong(2))))
      seq.sliding(n).foreach { w =>
        if (w.length == n) {
          val stp = w.map(_._2).sum
          val a = BigInt(n) * w.last._2 - stp
          val md = w.map(x => (BigInt(n) * x._2 - stp).abs).sum
          val expct =
            if (md == 0) None
            else Some((BigInt(1000) * n * a).toDouble / (BigInt(15) * md).toDouble)
          val g = got((sym, w.last._1))
          (expct, g) match {
            case (None, None) =>
            case (Some(e), Some(v)) => assert(e === v, s"$sym ${w.last._1}")
            case _ => fail(s"null mismatch $sym ${w.last._1}")
          }
          checked += 1
        }
      }
    }
    assert(checked > 0, "no full frames checked")
    // flat tape → md = 0 → NULL
    val flat = (1 to 100).map(i =>
      (i.toLong, "F", new java.sql.Timestamp(1700000000000L + i * 3600000L),
        10.0, 1.0)).toDF("event_id", "symbol", "timestamp", "price", "volume")
    assert(TradeOps.cci(flat).filter(col("cci").isNotNull).count() === 0)
    // strictly rising bars → latest bar sits above the frame mean → cci > 0
    val ramp = (1 to 100).map(i =>
      (i.toLong, "R", new java.sql.Timestamp(1700000000000L + i * 3600000L),
        10.0 + i, 1.0)).toDF("event_id", "symbol", "timestamp", "price", "volume")
    assert(TradeOps.cci(ramp).filter(col("cci") <= 0.0d).count() === 0)
  }

  test("hurst rs: BigInt recompute matches exactly; alternating tape " +
      "gives the anti-persistent R/S; blocks are full-size only") {
    import spark.implicits._
    val bn = 128
    val rs = TradeOps.hurstRs(trades).cache()
    assert(rs.filter(col("n_moves") =!= bn.toLong).count() === 0)
    assert(rs.filter(col("rs") <= 0.0d).count() === 0,
      "R/S is positive whenever variance is")
    // exact BigInt recompute of every block from the raw tape
    val raw = trades
      .withColumn("pc", expr("CAST(round(price * 100) AS BIGINT)"))
      .select("symbol", "timestamp", "event_id", "pc")
      .collect()
      .map(r => (r.getString(0), (r.getTimestamp(1).getTime, r.getLong(2)),
        r.getLong(3)))
      .groupBy(_._1)
    val got = rs.collect().map(r => (r.getString(0), r.getLong(1)) ->
      (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    var checked = 0
    raw.foreach { case (sym, rows) =>
      val pcs = rows.sortBy(_._2).map(_._3)
      val ds = pcs.sliding(2).map(p => BigInt(p(1) - p(0))).toArray
      ds.grouped(bn).zipWithIndex.foreach { case (blk, bi) =>
        if (blk.length == bn) {
          val sd = blk.sum
          val cums = blk.scanLeft(BigInt(0))(_ + _).tail
          val devs = cums.zipWithIndex.map { case (c, i) =>
            BigInt(bn) * c - BigInt(i + 1) * sd }
          val rr = devs.max.max(BigInt(0)) - devs.min.min(BigInt(0))
          val v = BigInt(bn) * blk.map(x => x * x).sum - sd * sd
          val expct = if (v <= 0) None
            else Some(rr.toDouble / math.sqrt(v.toDouble))
          assert(got((sym, bi.toLong)) === expct, s"$sym block $bi")
          checked += 1
        }
      }
    }
    assert(checked > 0)
    rs.unpersist()
    // alternating +1/−1 cent moves: maximally anti-persistent — R/S
    // pins at exactly 1.0 (dev range 128, √V = 128), an order of
    // magnitude below a random walk's E[R/S] ≈ √(πn/2) ≈ 14 at n=128
    val alt = (0 to 256).map(i =>
      (i.toLong, "A", new java.sql.Timestamp(1700000000000L + i * 1000L),
        if (i % 2 == 0) 10.00 else 10.01, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val a = TradeOps.hurstRs(alt).collect()
    assert(a.nonEmpty && a.forall(r => r.getDouble(3) === 1.0d),
      "alternating tape pins R/S at exactly 1.0")
  }

  test("max drawdown: exact path recompute per symbol; " +
      "rising tape has zero drawdown") {
    import spark.implicits._
    val got = TradeOps.maxDrawdown(trades).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val raw = trades.select(col("symbol"), col("timestamp"), col("event_id"),
        expr("CAST(round(price * 100) AS BIGINT)").as("pc")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3)))
      .groupBy(_._1)
    raw.foreach { case (sym, rows) =>
      val seq = rows.sortBy(r => (r._2.getTime, r._3)).map(_._4)
      var peak = Long.MinValue
      var maxDd = 0L
      var maxFrac = Option.empty[Double]
      seq.foreach { pc =>
        peak = math.max(peak, pc)
        val dd = peak - pc
        maxDd = math.max(maxDd, dd)
        if (peak > 0) {
          val f = dd.toDouble / peak.toDouble
          maxFrac = Some(maxFrac.fold(f)(math.max(_, f)))
        }
      }
      val (n, mdc, mf) = got(sym)
      assert(n === seq.length.toLong, sym)
      assert(mdc === maxDd, sym)
      assert(mf === maxFrac, sym)
    }
    val ramp = (1 to 50).map(i => (i.toLong, "R",
      new java.sql.Timestamp(1700000000000L + i * 1000L), 10.0 + i, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val r = TradeOps.maxDrawdown(ramp).head()
    assert(r.getLong(2) === 0L && r.getDouble(3) === 0.0d)
  }

  test("pareto share: deciles contiguous, users and events conserved, " +
      "cumulative share ends at 1, mean activity non-increasing") {
    val events = Tables.events(spark, sf)
    val ps = graft.ops.EventAnalytics.paretoShare(events).cache()
    val rows = ps.orderBy("decile").collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length).toSeq,
      "deciles are contiguous from 1")
    assert(ps.agg(sum(col("n_users"))).head.getLong(0)
      === events.select("user_id").distinct().count())
    assert(ps.agg(sum(col("n_events"))).head.getLong(0) === events.count())
    assert(rows.last.getDouble(4) === 1.0d,
      "cumulative share ends at exactly 1")
    // rank-sorted deciles → per-user mean activity non-increasing
    val means = rows.map(r => r.getLong(2).toDouble / r.getLong(1).toDouble)
    assert(means.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    ps.unpersist()
  }

  test("sortino: exact recompute from daily closes; no-down-day tape " +
      "emits NULL; sign agrees with sharpe when both defined") {
    import spark.implicits._
    val got = TradeOps.sortino(trades).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // driver recompute off the same daily-close contract
    val bars = trades.select(col("symbol"),
        to_date(col("timestamp")).as("day"), col("event_id"),
        expr("CAST(round(price * 100) AS BIGINT)").as("pc")).collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2), r.getLong(3)))
      .groupBy(r => (r._1, r._2))
      .map { case ((sym, day), rows) => (sym, day, rows.maxBy(_._3)._4) }
      .toSeq.groupBy(_._1)
    bars.foreach { case (sym, rows) =>
      val closes = rows.sortBy(_._2.getTime).map(_._3)
      val ds = closes.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
      val s1 = ds.map(BigInt(_)).sum
      val sd2 = ds.filter(_ < 0).map(d => BigInt(d) * BigInt(d)).sum
      val (n, sd) = got(sym)
      assert(n === ds.length.toLong, sym)
      if (sd2 == 0) assert(sd.isEmpty, sym)
      else assert(sd.get ===
        s1.toDouble / math.sqrt(ds.length.toDouble * sd2.toDouble), sym)
    }
    // monotone-up tape: returns exist but none negative -> NULL sortino
    val up = (1 to 40).map(i => (i.toLong, "U",
      new java.sql.Timestamp(1700000000000L + i * 86400000L),
      10.0 + i, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    assert(TradeOps.sortino(up).head().isNullAt(2))
    // same numerator (sum of daily cent moves) => same sign as sharpe
    val sh = TradeOps.sharpe(trades).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    got.foreach { case (sym, (_, sd)) =>
      (sd, sh(sym)) match {
        case (Some(so), Some(sa)) => assert(so.sign === sa.sign, sym)
        case _ => ()
      }
    }
  }

  test("calmar: exact recompute per symbol; monotone tape NULL; " +
      "ret/maxdd identity holds bit-exactly") {
    import spark.implicits._
    val got = TradeOps.calmar(trades).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    val raw = trades.select(col("symbol"), col("timestamp"), col("event_id"),
        expr("CAST(round(price * 100) AS BIGINT)").as("pc")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    raw.foreach { case (sym, rows) =>
      val byPath = rows.sortBy(r => (r._2.getTime, r._3))
      var peak = Long.MinValue
      var maxFrac = Option.empty[Double]
      byPath.foreach { r =>
        peak = math.max(peak, r._4)
        if (peak > 0) {
          val f = (peak - r._4).toDouble / peak.toDouble
          maxFrac = Some(maxFrac.fold(f)(math.max(_, f)))
        }
      }
      val fc = rows.minBy(_._3)._4
      val lc = rows.maxBy(_._3)._4
      val (n, rf, mdf, cal) = got(sym)
      assert(n === rows.size.toLong, sym)
      assert(rf === (if (fc > 0) Some((lc - fc).toDouble / fc.toDouble)
                     else None), sym)
      assert(mdf === maxFrac, sym)
      val expCal = for {
        r <- rf; m <- mdf; if m > 0
      } yield r / m
      assert(cal === expCal, sym)
    }
    val up = (1 to 50).map(i => (i.toLong, "U",
      new java.sql.Timestamp(1700000000000L + i * 1000L), 10.0 + i, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val u = TradeOps.calmar(up).head()
    assert(u.getDouble(3) === 0.0d && u.isNullAt(4),
      "monotone tape: zero drawdown, NULL calmar")
  }

  test("ulcer: exact ppm recompute per symbol; flat and rising tapes " +
      "are zero; ulcer <= 100") {
    import spark.implicits._
    val got = TradeOps.ulcerIndex(trades).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val raw = trades.select(col("symbol"), col("timestamp"), col("event_id"),
        expr("CAST(round(price * 100) AS BIGINT)").as("pc")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    raw.foreach { case (sym, rows) =>
      val seq = rows.sortBy(r => (r._2.getTime, r._3)).map(_._4)
      var peak = Long.MinValue
      var s2 = BigInt(0)
      seq.foreach { pc =>
        peak = math.max(peak, pc)
        val r = if (peak > 0) ((peak - pc) * 1000000L) / peak else 0L
        s2 += BigInt(r) * BigInt(r)
      }
      val (n, u) = got(sym)
      assert(n === seq.length.toLong, sym)
      assert(u === math.sqrt(s2.toDouble / seq.length.toDouble) / 10000.0d,
        sym)
      assert(u >= 0.0d && u <= 100.0d, sym)
    }
    val up = (1 to 50).map(i => (i.toLong, "U",
      new java.sql.Timestamp(1700000000000L + i * 1000L), 10.0 + i, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    assert(TradeOps.ulcerIndex(up).head().getDouble(2) === 0.0d)
  }

  test("williams %R: bounded in [-100, 0]; close at frame high -> 0, " +
      "at frame low -> -100; frame counts never exceed 14") {
    import spark.implicits._
    val wr = TradeOps.williamsR(trades).cache()
    assert(wr.filter(col("williams_r") > 0.0d ||
      col("williams_r") < -100.0d).count() === 0)
    assert(wr.filter(col("n_frame") < 1L || col("n_frame") > 14L)
      .count() === 0)
    assert(wr.filter(col("cl") > col("hh") || col("cl") < col("ll"))
      .count() === 0)
    // flat frames (hh = ll) are exactly the NULL rows
    assert(wr.filter(col("hh") === col("ll") &&
      col("williams_r").isNotNull).count() === 0)
    wr.unpersist()
    // crafted tape: close = daily high every day -> %R = 0 exactly;
    // close = daily low -> -100 exactly
    val hi = (1 to 20).flatMap(d => Seq(
      (d * 10L, "H", new java.sql.Timestamp(1700000000000L + d * 86400000L),
        5.0, 1.0),
      (d * 10L + 1, "H",
        new java.sql.Timestamp(1700000000000L + d * 86400000L + 1000L),
        9.0, 1.0)))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    assert(TradeOps.williamsR(hi).filter(col("williams_r") =!= 0.0d)
      .count() === 0)
    val lo = (1 to 20).flatMap(d => Seq(
      (d * 10L, "L", new java.sql.Timestamp(1700000000000L + d * 86400000L),
        9.0, 1.0),
      (d * 10L + 1, "L",
        new java.sql.Timestamp(1700000000000L + d * 86400000L + 1000L),
        5.0, 1.0)))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    assert(TradeOps.williamsR(lo).filter(col("williams_r") =!= -100.0d)
      .count() === 0)
  }

  test("obv divergence: counts nest in day counts; crafted divergent " +
      "and confirming tapes hit 1.0 and 0.0 exactly") {
    import spark.implicits._
    val od = TradeOps.obvDivergence(trades).cache()
    assert(od.filter(col("n_diverge") > col("n_days") ||
      col("n_diverge") < 0L).count() === 0)
    assert(od.filter(col("diverge_frac") < 0.0d ||
      col("diverge_frac") > 1.0d).count() === 0)
    od.unpersist()
    // Divergent tape: day d opens with a down-tick on volume 1 (from
    // yesterday's higher close) then up-ticks on volume 2, so the
    // day's flow = +1 volume unit > 0 — while the close (100.5 − d)
    // sits below yesterday's (101.5 − d): every measurable day
    // diverges.
    val div = (1 to 10).flatMap { d =>
      val base = 1700000000000L + d * 86400000L
      Seq(
        (d * 10L, "D", new java.sql.Timestamp(base), 100.0 - d, 1.0),
        (d * 10L + 1, "D", new java.sql.Timestamp(base + 1000L),
          100.5 - d, 2.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val dRow = TradeOps.obvDivergence(div).head()
    assert(dRow.getLong(1) === 9L && dRow.getLong(2) === 9L &&
      dRow.getDouble(3) === 1.0d)
    // Confirming tape: monotone rise -> flow > 0 and pd > 0 every day
    val conf = (1 to 10).flatMap { d =>
      val base = 1700000000000L + d * 86400000L
      Seq(
        (d * 10L, "C", new java.sql.Timestamp(base), 10.0 + d, 1.0),
        (d * 10L + 1, "C", new java.sql.Timestamp(base + 1000L),
          10.5 + d, 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val cRow = TradeOps.obvDivergence(conf).head()
    assert(cRow.getLong(2) === 0L && cRow.getDouble(3) === 0.0d)
  }

  test("active streaks: histogram partitions the user base; crafted " +
      "streaks measured exactly; bounded by lifespan") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val hist = graft.ops.EventAnalytics.activeStreaks(events).cache()
    val nUsers = events.select("user_id").distinct().count()
    assert(hist.agg(sum(col("n_users"))).head.getLong(0) === nUsers)
    assert(hist.filter(col("max_streak") < 1L).count() === 0)
    hist.unpersist()
    // crafted: user 1 has days {1,2,3, 7, 9,10} -> max streak 3;
    // user 2 has one day -> 1; user 3 daily for 5 days -> 5
    def ev(id: Long, u: Long, dayOff: Int) =
      (id, u, s"t$id", new java.sql.Timestamp(
        1700000000000L + dayOff * 86400000L), 1.0, """{}""")
    val crafted = (Seq(1, 2, 3, 7, 9, 10).zipWithIndex.map { case (d, i) =>
        ev(i.toLong, 1L, d) } ++
      Seq(ev(100L, 2L, 4)) ++
      (20 to 24).map(d => ev(200L + d, 3L, d)))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
    val got = graft.ops.EventAnalytics.activeStreaks(crafted).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(3L -> 1L, 1L -> 1L, 5L -> 1L))
  }

  test("snapshot expire: expired version unreadable, current read " +
      "identical to pre-expire, generation data physically reclaimed") {
    import graft.sinks.Upsert
    val root = tmpDir("expire-spec")
    def state(parity: Int) = trades
      .filter(pmod(col("event_id"), lit(2)) === parity)
      .groupBy("symbol")
      .agg(expr("max_by(CAST(round(price * 100) AS BIGINT), event_id)")
        .as("price_cents"))
    Upsert.merge(state(0), 0L, root, Seq("symbol"))
    Upsert.merge(state(1), 1L, root, Seq("symbol"))
    val before = Upsert.read(spark, root).get.collect().toSet
    assert(Upsert.readVersion(spark, root, 0L).isDefined)
    def genDirs = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(root))
        .iterator().asScala.count(_.getFileName.toString.startsWith("gen"))
    }
    val gensBefore = genDirs
    assert(Upsert.expire(root, keepLast = 1) === 1)
    assert(Upsert.readVersion(spark, root, 0L).isEmpty,
      "expired version must not be time-travel readable")
    assert(Upsert.read(spark, root).get.collect().toSet === before,
      "current read untouched by expiry")
    assert(genDirs <= gensBefore,
      "expiry never grows the generation set")
    // expire is idempotent: nothing left to expire
    assert(Upsert.expire(root, keepLast = 1) === 0)
  }

  test("compact: fragmented store collapses to one generation and one " +
      "file per bucket; rows identical; previous version still readable") {
    import graft.sinks.Upsert
    val root = tmpDir("compact-spec")
    val keyed = trades
      .withColumn("hr", date_trunc("hour", col("timestamp")))
      .groupBy("symbol", "hr")
      .agg(count(lit(1)).as("n_events"), max("event_id").as("max_event_id"))
    // base load + two single-symbol revisions: each revision rewrites
    // only its symbol's bucket, so the base generation stays live for
    // the others — real fragmentation (hour-residue batches do NOT
    // fragment: the last one re-owns every bucket)
    Upsert.merge(keyed, 0L, root,
      keys = Seq("symbol", "hr"), bucketBy = Seq("symbol"))
    val syms = keyed.agg(min("symbol"), max("symbol")).head
    Seq(syms.getString(0), syms.getString(1)).zipWithIndex.foreach {
      case (s, i) =>
        Upsert.merge(keyed.filter(col("symbol") === s), (i + 1).toLong,
          root, keys = Seq("symbol", "hr"), bucketBy = Seq("symbol"))
    }
    val before = Upsert.read(spark, root).get.collect().toSet
    val curBefore = Upsert.currentVersion(root).get
    val gensBefore = Upsert.liveGenerations(root)
    assert(gensBefore >= 2,
      s"fixture must actually fragment the store (got $gensBefore gens)")
    val consolidated = Upsert.compact(spark, root)
    assert(consolidated === gensBefore)
    assert(Upsert.liveGenerations(root) === 1, "one live generation after")
    assert(Upsert.maxFilesPerBucket(root) === 1, "one file per bucket after")
    assert(Upsert.read(spark, root).get.collect().toSet === before,
      "compaction is row-invisible")
    assert(Upsert.currentVersion(root).get === curBefore + 1,
      "compaction commits a NEW version, pointer only moves forward")
    assert(Upsert.readVersion(spark, root, curBefore).get.collect().toSet
      === before, "pre-compaction version stays time-travel readable")
    // idempotent in effect: a second compact rewrites 1 generation
    // into 1 generation with the same rows
    assert(Upsert.compact(spark, root) === 1)
    assert(Upsert.read(spark, root).get.collect().toSet === before)
  }

  test("lifecycle chain: the serving path stays compact through " +
      "merge -> expire -> compact -> rollback -> merge -> compact " +
      "(maxFilesPerBucket == 1 after every compact; rows exact at " +
      "every step)") {
    import graft.sinks.Upsert
    val root = tmpDir("lifecycle-chain-spec")
    val keyed = trades
      .withColumn("hr", date_trunc("hour", col("timestamp")))
      .groupBy("symbol", "hr")
      .agg(count(lit(1)).as("n_events"), max("event_id").as("max_event_id"))
    val syms = keyed.agg(min("symbol"), max("symbol")).head
    def oneSym(s: String) = keyed.filter(col("symbol") === s)
    // merge phase: base + two single-symbol revisions = real
    // fragmentation (the compact-spec fixture)
    Upsert.merge(keyed, 0L, root, Seq("symbol", "hr"),
      bucketBy = Seq("symbol"))
    Upsert.merge(oneSym(syms.getString(0)), 1L, root, Seq("symbol", "hr"),
      bucketBy = Seq("symbol"))
    Upsert.merge(oneSym(syms.getString(1)), 2L, root, Seq("symbol", "hr"),
      bucketBy = Seq("symbol"))
    val dataCols = Seq("symbol", "hr", "n_events", "max_event_id")
    def readData() = Upsert.read(spark, root).get
      .select(dataCols.map(col): _*).collect().toSet
    val truth = readData()
    assert(Upsert.liveGenerations(root) >= 2, "fixture must fragment")
    // expire everything but the current version, then compact
    assert(Upsert.expire(root, keepLast = 1) >= 1)
    assert(readData() === truth)
    assert(Upsert.compact(spark, root) >= 2)
    val compactedVersion = Upsert.currentVersion(root).get
    assert(Upsert.maxFilesPerBucket(root) === 1,
      "serving path must be one file per bucket after compact")
    assert(Upsert.liveGenerations(root) === 1)
    assert(readData() === truth)
    // fragment again, then roll back to the compacted version: the
    // serving path must come back compact, not just row-correct
    Upsert.merge(oneSym(syms.getString(0))
      .withColumn("n_events", col("n_events") + 1), 3L, root,
      Seq("symbol", "hr"), bucketBy = Seq("symbol"))
    assert(readData() !== truth)
    Upsert.rollback(root, compactedVersion)
    assert(readData() === truth,
      "rollback restores the compacted rows")
    assert(Upsert.maxFilesPerBucket(root) === 1,
      "rollback to a compacted version restores a compact serving path")
    // one more merge + compact closes the loop
    Upsert.merge(oneSym(syms.getString(1)), 4L, root, Seq("symbol", "hr"),
      bucketBy = Seq("symbol"))
    Upsert.compact(spark, root)
    assert(Upsert.maxFilesPerBucket(root) === 1)
    assert(Upsert.liveGenerations(root) === 1)
    assert(readData() === truth)
  }

  test("gdpr purge: entity erased from current AND every retained " +
      "version; other entities' history byte-identical; re-run is a " +
      "no-op; serving point read returns empty") {
    import graft.sinks.Upsert
    val root = tmpDir("purge-spec")
    val keyed = trades
      .withColumn("hr", date_trunc("hour", col("timestamp")))
      .groupBy("symbol", "hr")
      .agg(count(lit(1)).as("n_events"), max("event_id").as("max_event_id"))
    Upsert.merge(keyed, 0L, root,
      keys = Seq("symbol", "hr"), bucketBy = Seq("symbol"))
    val syms = keyed.select("symbol").distinct()
      .orderBy("symbol").collect().map(_.getString(0))
    assert(syms.length >= 2, "fixture needs at least two symbols")
    val (victim, control) = (syms.head, syms.last)
    // revision merge creates genuine multi-version history (v0 + v1)
    Upsert.merge(keyed.filter(col("symbol") === control), 1L, root,
      keys = Seq("symbol", "hr"), bucketBy = Seq("symbol"))
    def versionRows(v: Long, sym: String): Set[org.apache.spark.sql.Row] =
      Upsert.readVersion(spark, root, v)
        .map(_.filter(col("symbol") === sym)
          .select("symbol", "hr", "n_events", "max_event_id")
          .collect().toSet).getOrElse(Set.empty)
    val controlV0 = versionRows(0L, control)
    val controlV1 = versionRows(1L, control)
    assert(versionRows(0L, victim).nonEmpty, "victim present pre-purge")
    import spark.implicits._
    val removed = Upsert.purge(spark, root,
      Seq(victim).toDF("symbol"))
    assert(removed > 0, "purge reports physical rows removed")
    // the erasure contract: gone from the current read and from EVERY
    // retained time-travel version (history rewritten, not repointed)
    assert(versionRows(0L, victim).isEmpty, "victim erased from v0")
    assert(versionRows(1L, victim).isEmpty, "victim erased from v1")
    assert(Upsert.read(spark, root).get
      .filter(col("symbol") === victim).count() === 0L)
    // collateral check: the control entity's history is untouched
    assert(versionRows(0L, control) === controlV0)
    assert(versionRows(1L, control) === controlV1)
    // the bucket-pruned serving path agrees
    assert(Upsert.readKey(spark, root, Seq(victim)).get.count() === 0L)
    assert(Upsert.readKey(spark, root, Seq(control)).get.count() > 0L)
    // idempotence: nothing left to remove, zero rewrites
    assert(Upsert.purge(spark, root, Seq(victim).toDF("symbol")) === 0L)
    // the store remains fully writable after a purge
    Upsert.merge(keyed.filter(col("symbol") === control), 2L, root,
      keys = Seq("symbol", "hr"), bucketBy = Seq("symbol"))
    assert(Upsert.read(spark, root).get
      .filter(col("symbol") === victim).count() === 0L)
  }

  test("constraint suite: passed iff violations == 0; multi-line " +
      "orders make the l_orderkey uniqueness contract fail loudly; " +
      "totals consistent per table") {
    val out = Relational.constraintSuite(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(out.length === 10, "ten contract rows")
    out.foreach { case (c, t, total, v, passed) =>
      assert(passed === (v === 0L), s"$c/$t verdict must equal v==0")
      assert(v >= 0L && v <= total, s"$c/$t violations within [0,total]")
    }
    val byTarget = out.map(r => (r._1, r._2) -> r._4).toMap
    // lineitem has multiple lines per order BY DESIGN — the suite must
    // report red rows, not just green ones
    assert(byTarget(("unique", "lineitem.l_orderkey")) > 0L)
    // widening the key can only reduce duplicates (the synthetic
    // corpus draws l_linenumber independently, so even the composite
    // key has collisions — a genuinely red contract row both engines
    // agree on); referential integrity holds
    assert(byTarget(("unique", "lineitem.(l_orderkey,l_linenumber)"))
      <= byTarget(("unique", "lineitem.l_orderkey")))
    assert(byTarget(("fk", "lineitem.l_orderkey->orders.o_orderkey")) === 0L)
    // totals are per-table constants: all orders rows agree, etc.
    assert(out.filter(_._2.startsWith("orders.")).map(_._3).distinct.length === 1)
    assert(out.filter(r => r._2.startsWith("lineitem.") || r._1 == "fk")
      .map(_._3).distinct.length === 1)
  }

  test("survival curve: spell conservation, at-risk is the reverse " +
      "cumulative and decreases, censored mass equals last-hour-active " +
      "spells") {
    import graft.ops.EventAnalytics
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val out = EventAnalytics.survivalCurve(events)
      .orderBy("duration_hours").collect()
    assert(out.nonEmpty)
    // conservation: every spell is exactly one of died/censored, and
    // the spell count is the gaps-and-islands count recomputed here
    val hourUs = 3600000000L
    val active = events.select(col("user_id"),
      expr(s"unix_micros(ts) div $hourUs").as("hr")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("hr")
    val nSpells = active
      .withColumn("island", col("hr") - row_number().over(w))
      .select("user_id", "island").distinct().count()
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum === nSpells)
    // at-risk: reverse-cumulative — first row carries every spell,
    // strictly decreasing in duration
    assert(out.head.getLong(3) === nSpells)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) > b.getLong(3),
        "n_at_risk must strictly decrease over ascending durations")
      case _ => ()
    }
    // censoring: exactly the spells touching the corpus' final hour
    val lastHr = active.agg(max("hr")).head.getLong(0)
    val censoredTruth = active.filter(col("hr") === lastHr).count()
    assert(out.map(_.getLong(2)).sum === censoredTruth)
  }

  test("fanout profile: predicted join output mass equals the real " +
      "inner join row count; dangling keys classified; orders side " +
      "unique") {
    val dir = "/root/testdata/sf0.001"
    val out = Relational.fanoutProfile(spark, dir).collect()
    val o = graft.Tables.load(spark, dir, "orders")
    val l = graft.Tables.load(spark, dir, "lineitem")
    val realJoin = o.join(l, o("o_orderkey") === l("l_orderkey")).count()
    assert(out.filter(r => r.getLong(0) > 0 && r.getLong(1) > 0)
      .map(_.getLong(3)).sum === realJoin,
      "profile must predict the inner join cardinality exactly")
    // o_orderkey is unique: the left multiplicity is never above 1
    assert(out.map(_.getLong(0)).max <= 1L)
    // dangling-key classification reconciles with anti joins
    val lhsOnly = o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti").count()
    assert(out.filter(_.getLong(1) === 0L).map(_.getLong(2)).sum === lhsOnly)
  }

  test("depth ladder: levels bounded by the window; trade counts and " +
      "volumes reconcile exactly with the tape around the last price") {
    val ladder = TradeOps.depthLadder(trades, windowCents = 500).cache()
    assert(ladder.count() > 0)
    assert(ladder.filter(abs(col("rel_cents")) > 500).count() === 0)
    // tape-side recompute: per symbol, trades whose cent level is
    // within the window of the last price
    val tape = trades
      .withColumn("pc", expr("CAST(round(price * 100) AS BIGINT)"))
      .withColumn("vm", expr("CAST(round(volume * 1000000) AS BIGINT)"))
    val lastPx = tape.groupBy(col("symbol").as("sym2"))
      .agg(max_by(col("pc"), col("event_id")).as("last_pc"))
    val expected = tape.join(lastPx, col("symbol") === col("sym2"))
      .filter(abs(col("pc") - col("last_pc")) <= 500)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val got = ladder.groupBy("symbol")
      .agg(sum(col("n_trades")).as("n"),
        sum(col("buy_vol_micro") + col("sell_vol_micro")
          + col("neutral_vol_micro")).as("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === expected,
      "ladder totals must reconcile with the tape: no tick dropped, " +
        "no volume double-counted")
    ladder.unpersist()
  }

  test("churn rate: exact recompute from distinct user-weeks; " +
      "final week excluded; rates bounded; non-empty") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val got = graft.ops.EventAnalytics.churnRate(events).collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got.nonEmpty, "corpus spans several weeks — churn must emit")
    // driver recompute
    val um = events.select(col("user_id"),
        date_trunc("week", col("ts")).as("w")).distinct().collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    val byWeek = um.groupBy(_._2).map { case (w, rows) =>
      w -> rows.map(_._1).toSet }
    val weeks = byWeek.keys.toSeq.sortBy(_.getTime)
    val expect = weeks.dropRight(1).map { w =>
      val act = byWeek(w)
      val nxt = byWeek.getOrElse(
        new java.sql.Timestamp(w.getTime + 7L * 86400000L),
        Set.empty[Long])
      val churned = act.count(u => !nxt.contains(u)).toLong
      w -> (act.size.toLong, churned,
        churned.toDouble / act.size.toDouble)
    }.toMap
    assert(got === expect)
    got.values.foreach { case (_, _, r) =>
      assert(r >= 0.0d && r <= 1.0d)
    }
  }

  test("squeeze: fraction bounded; flat tape squeezes everywhere " +
      "once warm (sigma = 0 inside any envelope needs range > 0)") {
    import spark.implicits._
    val sq = TradeOps.squeeze(trades).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    sq.values.foreach { case (nb, ns, f) =>
      assert(ns >= 0L && ns <= nb)
      assert(f >= 0.0d && f <= 1.0d)
    }
    // alternating two-price tape: closes flip 900/1100 cents hourly, so
    // close sigma is large while TR envelope is the same range -> the
    // BB (k=2) pops OUTSIDE the KC (mult=2 on mean TR) never strictly
    // inside with zero-width margins; a converging tape (close pinned,
    // range wide) squeezes: close sigma = 0 strictly inside the wide
    // TR envelope on every warm bar
    val conv = (1 to 40).flatMap { h =>
      val base = 1700000000000L + h * 3600000L
      Seq(
        (h * 10L, "S", new java.sql.Timestamp(base), 9.0, 1.0),
        (h * 10L + 1, "S", new java.sql.Timestamp(base + 1000L), 11.0, 1.0),
        (h * 10L + 2, "S", new java.sql.Timestamp(base + 2000L), 10.0, 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val c = TradeOps.squeeze(conv).head()
    assert(c.getLong(2) === c.getLong(1) && c.getDouble(3) === 1.0d,
      "pinned close inside a wide TR envelope squeezes on every warm bar")
  }

  test("rvi: bounded in [-1, 1]; close-at-high tape pins +1, " +
      "close-at-low pins -1; flat frames NULL") {
    import spark.implicits._
    val r = TradeOps.rvi(trades).cache()
    assert(r.filter(col("rvi") > 1.0d || col("rvi") < -1.0d).count() === 0)
    assert(r.filter(col("s_range") === 0L &&
      col("rvi").isNotNull).count() === 0)
    assert(r.filter(col("n_frame") =!= 14L).count() === 0)
    r.unpersist()
    // open at the low, close at the high every hour -> body = range -> +1
    val up = (1 to 40).flatMap { h =>
      val base = 1700000000000L + h * 3600000L
      Seq((h * 10L, "U", new java.sql.Timestamp(base), 5.0, 1.0),
        (h * 10L + 1, "U", new java.sql.Timestamp(base + 1000L), 9.0, 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    assert(TradeOps.rvi(up).filter(col("rvi") =!= 1.0d).count() === 0)
    val dn = (1 to 40).flatMap { h =>
      val base = 1700000000000L + h * 3600000L
      Seq((h * 10L, "D", new java.sql.Timestamp(base), 9.0, 1.0),
        (h * 10L + 1, "D", new java.sql.Timestamp(base + 1000L), 5.0, 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    assert(TradeOps.rvi(dn).filter(col("rvi") =!= -1.0d).count() === 0)
  }

  test("round price bias: shares nest (dollar <= half <= dime <= 1); " +
      "crafted all-round tape pins 1.0 everywhere") {
    import spark.implicits._
    val b = TradeOps.roundPriceBias(trades).cache()
    assert(b.filter(col("n_dollar") > col("n_half") ||
      col("n_half") > col("n_dime") ||
      col("n_dime") > col("n_trades")).count() === 0)
    assert(b.filter(col("dollar_share") > col("half_share") ||
      col("half_share") > col("dime_share") ||
      col("dime_share") > 1.0d).count() === 0)
    b.unpersist()
    val round = (1 to 20).map(i => (i.toLong, "R",
      new java.sql.Timestamp(1700000000000L + i * 1000L), i.toDouble, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val r = TradeOps.roundPriceBias(round).head()
    assert(r.getDouble(5) === 1.0d && r.getDouble(6) === 1.0d &&
      r.getDouble(7) === 1.0d)
  }

  test("gap fill: filled nests in gaps; crafted gap-and-fill tape = 1.0, " +
      "runaway gaps = 0.0, gapless tape NULL") {
    import spark.implicits._
    val g = TradeOps.gapFill(trades).cache()
    assert(g.filter(col("n_filled") > col("n_gaps") ||
      col("n_gaps") > col("n_days")).count() === 0)
    assert(g.filter(col("fill_rate") < 0.0d ||
      col("fill_rate") > 1.0d).count() === 0)
    g.unpersist()
    // day d opens above yesterday's close (gap up) then trades below
    // it (fills). closes at 10 every day; opens at 12, dips to 9.
    val fill = (1 to 10).flatMap { d =>
      val base = 1700000000000L + d * 86400000L
      Seq((d * 10L, "F", new java.sql.Timestamp(base), 12.0, 1.0),
        (d * 10L + 1, "F", new java.sql.Timestamp(base + 1000L), 9.0, 1.0),
        (d * 10L + 2, "F", new java.sql.Timestamp(base + 2000L), 10.0, 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val f = TradeOps.gapFill(fill).head()
    assert(f.getLong(2) === 9L && f.getLong(3) === 9L &&
      f.getDouble(4) === 1.0d)
    // runaway: each day opens and stays strictly above yesterday's
    // whole range — gap never fills
    val run = (1 to 10).flatMap { d =>
      val base = 1700000000000L + d * 86400000L
      Seq((d * 10L, "N", new java.sql.Timestamp(base), 10.0 + 2 * d, 1.0),
        (d * 10L + 1, "N", new java.sql.Timestamp(base + 1000L),
          11.0 + 2 * d, 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val n = TradeOps.gapFill(run).head()
    assert(n.getLong(2) === 9L && n.getLong(3) === 0L &&
      n.getDouble(4) === 0.0d)
    // gapless: one flat price forever -> zero gaps -> NULL rate
    val flat = (1 to 10).flatMap { d =>
      val base = 1700000000000L + d * 86400000L
      Seq((d * 10L, "Z", new java.sql.Timestamp(base), 10.0, 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val z = TradeOps.gapFill(flat).head()
    assert(z.getLong(2) === 0L && z.isNullAt(4))
  }

  test("narrow range: rate bounded; monotone contracting tape is NR7 " +
      "every qualifying day; constant-range tape never (strict)") {
    import spark.implicits._
    val nr = TradeOps.narrowRange(trades).cache()
    assert(nr.filter(col("n_nr") > col("n_days")).count() === 0)
    assert(nr.filter(col("nr_rate") < 0.0d ||
      col("nr_rate") > 1.0d).count() === 0)
    nr.unpersist()
    // contracting: day d has range 100 - d cents -> strictly narrowest
    // of any trailing window on every qualifying day
    val contract = (1 to 20).flatMap { d =>
      val base = 1700000000000L + d * 86400000L
      Seq((d * 10L, "C", new java.sql.Timestamp(base), 50.0, 1.0),
        (d * 10L + 1, "C", new java.sql.Timestamp(base + 1000L),
          50.0 + (1.0 - d * 0.01), 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val c = TradeOps.narrowRange(contract).head()
    assert(c.getLong(1) === 14L && c.getLong(2) === 14L &&
      c.getDouble(3) === 1.0d)
    // constant range: ties are never NR (strict comparison)
    val const = (1 to 20).flatMap { d =>
      val base = 1700000000000L + d * 86400000L
      Seq((d * 10L, "K", new java.sql.Timestamp(base), 50.0, 1.0),
        (d * 10L + 1, "K", new java.sql.Timestamp(base + 1000L), 51.0, 1.0))
    }.toDF("event_id", "symbol", "timestamp", "price", "volume")
    val k = TradeOps.narrowRange(const).head()
    assert(k.getLong(2) === 0L && k.getDouble(3) === 0.0d)
  }

  test("prediction accuracy: lead-matching == explicit (symbol, ts) join; metric sanity") {
    import graft.ops.Predict
    val acc = Predict.predictionAccuracy(trades).cache()
    // independent join-based reference: predictNext's table matched to
    // the realized bar closes on (symbol, timestamp) — the declared
    // semantics the window `lead` claims to be identical to
    val bars = TradeOps.slidingFeatures(trades)
      .select(col("symbol"), col("timestamp"), col("close"))
    val joined = Predict.predictNext(trades)
      .join(bars, Seq("symbol", "timestamp"))
    val perDay = joined
      .groupBy(col("symbol"), date_trunc("day", col("timestamp")).as("day"))
      .agg(count(lit(1)).as("n_join"),
        sum(expr("CAST(floor(abs(predicted_close - close) * 1000000.0D + 0.5D) AS BIGINT)"))
          .as("se_join"))
    val cmp = acc.join(perDay, Seq("symbol", "day"), "full_outer")
    assert(cmp.filter(col("n_scored").isNull || col("n_join").isNull ||
      col("n_scored") =!= col("n_join")).count() === 0)
    // micro-quantized MAE reconstructed from the join path matches exactly
    assert(cmp.filter(
      col("se_join").cast("double") / (col("n_join").cast("double") * lit(1e6))
        =!= col("mae")).count() === 0)
    // metric sanity: rmse >= mae >= |bias| (Jensen / triangle), counts bounded
    assert(acc.filter(col("mae") < abs(col("bias")) - lit(1e-9)).count() === 0)
    assert(acc.filter(col("rmse") < col("mae") - lit(1e-4)).count() === 0)
    assert(acc.filter(col("n_within_1pct") > col("n_scored")).count() === 0)
  }

  test("audited merge: duplicate-key and NULL-key batches rejected without a version bump; replayed id skipped") {
    import graft.sinks.{Upsert, Wap}
    val root = s"${tmpDir("graft_k21_spec")}/audited"
    val store = s"$root/store"
    val keyed = trades
      .groupBy(col("symbol"), date_trunc("day", col("timestamp")).as("day"))
      .agg(count(lit(1)).as("n_trades"))
    val r0 = Wap.auditedMerge(spark, keyed, 0L, root,
      keys = Seq("symbol", "day"), bucketBy = Seq("symbol"))
    assert(r0.published)
    val v0 = Upsert.currentVersion(store)
    assert(v0.nonEmpty)
    // duplicate composite keys must be rejected
    val dup = keyed.unionByName(keyed.limit(1))
    val rDup = Wap.auditedMerge(spark, dup, 5L, root,
      keys = Seq("symbol", "day"), bucketBy = Seq("symbol"))
    assert(!rDup.published && rDup.reason.contains("duplicate"))
    assert(Upsert.currentVersion(store) === v0)
    // NULL keys must be rejected
    val nulls = keyed.withColumn("day", lit(null).cast("timestamp"))
    val rNull = Wap.auditedMerge(spark, nulls, 6L, root,
      keys = Seq("symbol", "day"), bucketBy = Seq("symbol"))
    assert(!rNull.published && rNull.reason.contains("NULL"))
    assert(Upsert.currentVersion(store) === v0)
    // replayed batch id: skipped BEFORE staging or merging, version fixed
    val rReplay = Wap.auditedMerge(spark,
      keyed.withColumn("n_trades", col("n_trades") + 999), 0L, root,
      keys = Seq("symbol", "day"), bucketBy = Seq("symbol"))
    assert(rReplay.published && rReplay.reason === "already applied")
    assert(Upsert.currentVersion(store) === v0)
    // store still serves the audited base batch exactly
    val served = Wap.readStore(spark, root).get
    assert(served.count() === keyed.count())
    assert(served.join(keyed, Seq("symbol", "day"))
      .filter(served("n_trades") =!= keyed("n_trades")).count() === 0)
  }

  test("schema evolution: add/omit columns, time-travel narrow schema, compact homogenizes, readKey serves unified") {
    import graft.sinks.Upsert
    val root = s"${tmpDir("graft_k22_spec")}/store"
    import spark.implicits._
    val b0 = Seq(("a", 1L, 10.0), ("b", 2L, 20.0), ("c", 3L, 30.0))
      .toDF("sym", "k", "x")
    Upsert.merge(b0, 0L, root, keys = Seq("sym", "k"), bucketBy = Seq("sym"))
    // batch 1 ADDS column y (and touches only sym=a)
    val b1 = Seq(("a", 1L, 11.0, 111L)).toDF("sym", "k", "x", "y")
    Upsert.merge(b1, 1L, root, keys = Seq("sym", "k"), bucketBy = Seq("sym"))
    val t1 = Upsert.read(spark, root).get
    assert(t1.columns.contains("y"))
    // pre-evolution rows serve NULL y; the winner carries its value
    assert(t1.filter(col("sym") === "a").head.getAs[Any]("y") === 111L)
    assert(t1.filter(col("sym") =!= "a" && col("y").isNotNull).count() === 0)
    // time travel: version 0 predates y entirely
    assert(!Upsert.readVersion(spark, root, 0L).get.columns.contains("y"))
    // batch 2 OMITS x: the row it wins serves NULL x (whole-row
    // replacement, the Cassandra unset-column analog)
    val b2 = Seq(("b", 2L, 222L)).toDF("sym", "k", "y")
    Upsert.merge(b2, 2L, root, keys = Seq("sym", "k"), bucketBy = Seq("sym"))
    val t2 = Upsert.read(spark, root).get
    val rowB = t2.filter(col("sym") === "b").head
    assert(rowB.isNullAt(rowB.fieldIndex("x")) && rowB.getAs[Long]("y") === 222L)
    // type change on a shared column must fail loudly
    val bad = Seq(("c", 3L, "oops")).toDF("sym", "k", "x")
    intercept[IllegalArgumentException] {
      Upsert.merge(bad, 3L, root, keys = Seq("sym", "k"), bucketBy = Seq("sym"))
    }
    // compact: physically homogenizes, values preserved
    Upsert.compact(spark, root)
    val t3 = Upsert.read(spark, root).get
      .select("sym", "k", "x", "y").orderBy("sym").collect()
    assert(t3.map(r => (r.getString(0),
      Option(r.get(2)), Option(r.get(3)))).toSeq ===
      Seq(("a", Some(11.0), Some(111L)), ("b", None, Some(222L)),
        ("c", Some(30.0), None)))
    // single-bucket serving read resolves the unified schema too
    val kr = Upsert.readKey(spark, root, Seq("c")).get
    assert(kr.columns.contains("y") &&
      kr.filter(col("y").isNotNull).count() === 0)
  }

  test("cuped: two arms partition the users; pooled adjusted mean " +
      "equals pooled raw mean; theta is the pooled OLS slope") {
    import graft.ops.EventAnalytics
    val events = Tables.events(spark, sf)
    val out = EventAnalytics.cupedAb(events).orderBy("arm").collect()
    assert(out.length === 2 && out.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    // arms partition the user universe and the event mass
    val nUsers = events.select("user_id").distinct().count()
    assert(out.map(_.getLong(1)).sum === nUsers)
    assert(out.map(r => r.getLong(2) + r.getLong(3)).sum === events.count(),
      "pre + post counts across arms must account for every event")
    // theta is pooled: identical on both rows
    assert(out(0).getDouble(4) === out(1).getDouble(4))
    // CUPED unbiasedness: the user-weighted adjusted mean telescopes
    // back to the pooled raw post-period mean (the theta terms cancel
    // because the covariate is centered on its pooled mean)
    val pooledRaw = out.map(r => r.getLong(3)).sum.toDouble /
      out.map(_.getLong(1)).sum.toDouble
    val pooledAdj = out.map(r => r.getLong(1) * r.getDouble(6)).sum /
      out.map(_.getLong(1)).sum.toDouble
    assert(math.abs(pooledAdj - pooledRaw) < 1e-9)
    // theta matches the OLS slope recomputed from the user-grain table
    val hourUs = 3600000000L
    val mid = events.agg(
      expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("m"))
      .head.getLong(0)
    val u = events.select(col("user_id"),
        expr(s"CASE WHEN unix_micros(ts) < ${mid}L THEN 1 ELSE 0 END").as("px"))
      .groupBy("user_id")
      .agg(sum("px").as("x"), sum(expr("1 - px")).as("y"))
      .collect().map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
    val n = u.length.toDouble
    val (sx, sy) = (u.map(_._1).sum, u.map(_._2).sum)
    val sxy = u.map(p => p._1 * p._2).sum
    val sxx = u.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(out(0).getDouble(4) - slope) < 1e-9)
    // variance reduction: adjusting by the OLS slope cannot increase
    // the covariate-explained variance (equality iff cov = 0)
    val varY = u.map(p => math.pow(p._2 - sy / n, 2)).sum / n
    val varAdj = u.map(p =>
      math.pow((p._2 - slope * p._1) -
        (sy / n - slope * sx / n), 2)).sum / n
    assert(varAdj <= varY + 1e-12)
  }

  test("pair-grain cache: a repeated Relational query pins no second " +
      "copy; another reduction of the same scan gets its own entry") {
    // a fresh copy of the tables: the cache keys on the input plan, and
    // earlier specs may already have pinned the shared sf dir's entries
    val dir = tmpDir("pair_grain")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(dir, f.getName)))
    // ids, not a count: other specs' pins may be collected meanwhile
    def pinned() = spark.sparkContext.getPersistentRDDs.keySet
    def run(q: String): Int = {
      val before = pinned()
      SparkEntry.queries(q)(spark, dir).collect()
      (pinned() -- before).size
    }
    assert(run("q21_sole_returning_supplier") === 1)
    assert(run("q21_sole_returning_supplier") === 0, "a second pin for q21")
    assert(run("q25_copurchase") === 1, "q25 shares q21's entry")
    assert(run("q25_copurchase") === 0, "a second pin for q25")
  }
}
