package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, Graph, TextOps, TradeOps}

/** Empty-input and degenerate-shape behavior: every operator must
  * return an empty (or well-defined) result on an empty table, never
  * throw — at 100 TB, empty partitions, empty filter results, and
  * empty micro-batches are routine, not exceptional. */
class EdgeCasesSpec extends SparkSuite {

  private lazy val emptyTrades: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("event_id", LongType), StructField("symbol", StringType),
      StructField("user_id", LongType),
      StructField("timestamp", TimestampType), StructField("price", DoubleType),
      StructField("volume", DoubleType), StructField("usd_volume", DoubleType))))

  private lazy val emptyDocs: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))

  test("format round-trips survive an empty table") {
    assert(TradeOps.orcRoundTrip(spark, emptyTrades).count() === 0)
    assert(TradeOps.ewma(emptyTrades).count() === 0)
    assert(TradeOps.rollingMedian(emptyTrades).count() === 0)
    assert(TradeOps.gapDetect(emptyTrades).count() === 0)
    assert(TradeOps.priceHistogram(emptyTrades).count() === 0)
  }

  test("trade operators return empty results on an empty table") {
    assert(TradeOps.tumblingVolume(emptyTrades).count() === 0)
    assert(TradeOps.slidingFeatures(emptyTrades).count() === 0)
    assert(TradeOps.cumulativeVolume(emptyTrades).count() === 0)
    assert(TradeOps.lookbackAvg(emptyTrades).count() === 0)
    assert(TradeOps.minMaxScale(emptyTrades).count() === 0)
    assert(graft.ops.Scale.sessionize(emptyTrades).count() === 0)
    assert(graft.ops.Scale.saltedVolumeBySymbol(emptyTrades).count() === 0)
    assert(TradeOps.discreteQuantiles(emptyTrades).count() === 0)
    assert(TradeOps.setOps(emptyTrades).count() === 0)
    assert(TradeOps.fullOuterDaily(emptyTrades).count() === 0)
    assert(TradeOps.unpivotTotals(emptyTrades).count() === 0)
    assert(TradeOps.pivotDayOfWeek(emptyTrades).count() === 0)
  }

  test("document operators return empty results on an empty corpus") {
    assert(TextOps.tokenStats(emptyDocs).count() === 0)
    assert(TextOps.normalize(emptyDocs).count() === 0)
    assert(Dedup.exactDedup(emptyDocs).count() === 0)
    assert(Dedup.minhashPairs(emptyDocs).count() === 0)
    assert(Dedup.resolveDuplicates(emptyDocs).count() === 0)
    assert(TextOps.repetitionStats(emptyDocs).count() === 0)
    assert(TextOps.chunkDocs(emptyDocs).count() === 0)
    assert(TextOps.contamination(emptyDocs).count() === 0)
    assert(TextOps.segmentDedup(emptyDocs).count() === 0)
    assert(TextOps.dfRarity(emptyDocs).count() === 0)
    assert(TextOps.tfidfTopK(emptyDocs).count() === 0)
    // exhausted corpus: BPE stops learning rules, never throws
    assert(TextOps.bpeTrain(emptyDocs).count() === 0)
    assert(TextOps.domainQuota(emptyDocs).count() === 0)
    assert(Dedup.clusterBest(emptyDocs).count() === 0)
    assert(TextOps.importanceWeights(emptyDocs).count() === 0)
  }

  test("incremental join view is empty when both join sides are empty") {
    val emptyOrders = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))))
    val emptyCustomer = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))))
    assert(graft.ops.Incremental
      .incrementalJoinAgg(emptyOrders, emptyCustomer).count() === 0)
  }

  test("encode/view ops empty-safe") {
    assert(TextOps.bpeEncode(emptyDocs).count() === 0)
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
    assert(graft.ops.Incremental.incrementalAgg(emptyEvents).count() === 0)
  }

  test("connectedComponents on empty vertex and edge sets") {
    import spark.implicits._
    val noVerts = Seq.empty[Int].toDF("v")
    val noEdges = Seq.empty[(Int, Int)].toDF("a", "b")
    assert(Graph.connectedComponents(noVerts, noEdges).count() === 0)
    // vertices without edges: every vertex is its own component
    val verts = (0 until 5).toDF("v")
    val got = Graph.connectedComponents(verts, noEdges)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got === (0 until 5).map(v => v -> v).toMap)
  }

  test("single-document corpus: dedup resolution is the identity") {
    import spark.implicits._
    val one = Seq((1L, "hello world foo bar baz", "en", "web", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.resolveDuplicates(one).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("canonical_doc") === 1L)
    assert(r.head.getAs[Long]("cluster_size") === 1L)
  }

  test("upsert: empty batches are no-ops, never a zero-bucket manifest") {
    import spark.implicits._
    import graft.sinks.Upsert
    val root = tmpDir("graft-upsert-empty")
    val empty = Seq.empty[(String, Long, Double)].toDF("k", "t", "v")
    // empty FIRST batch (routine in streaming foreachBatch): no table
    Upsert.merge(empty, 0, root, Seq("k", "t"))
    assert(Upsert.currentVersion(root).isEmpty)
    assert(Upsert.read(spark, root).isEmpty)
    // a real batch lands normally afterwards
    Upsert.merge(Seq(("a", 1L, 1.0)).toDF("k", "t", "v"), 1, root, Seq("k", "t"))
    assert(Upsert.read(spark, root).get.count() === 1)
    // empty LATER batch: version pointer untouched
    val v = Upsert.currentVersion(root)
    Upsert.merge(empty, 2, root, Seq("k", "t"))
    assert(Upsert.currentVersion(root) === v)
  }

  test("upsert: readVersion time-travels to the previous state, GC bounds retention") {
    import spark.implicits._
    import graft.sinks.Upsert
    val root = tmpDir("graft-upsert-tt")
    def st(root: String, v: Long): Set[(String, Double)] =
      Upsert.readVersion(spark, root, v).get.collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Double]("v"))).toSet
    Upsert.merge(Seq(("a", 1.0), ("b", 1.0)).toDF("k", "v"), 0, root, Seq("k"))
    Upsert.merge(Seq(("b", 2.0), ("c", 2.0)).toDF("k", "v"), 1, root, Seq("k"))
    // version 1 = batches 0+1 merged, batch 1 winning the "b" collision
    assert(Upsert.currentVersion(root) === Some(1L))
    assert(st(root, 1L) === Set(("a", 1.0), ("b", 2.0), ("c", 2.0)))
    assert(st(root, 0L) === Set(("a", 1.0), ("b", 1.0)))
    Upsert.merge(Seq(("a", 3.0)).toDF("k", "v"), 2, root, Seq("k"))
    // current and current-1 serveable; version 0's manifest is GC'd
    assert(st(root, 2L) === Set(("a", 3.0), ("b", 2.0), ("c", 2.0)))
    assert(st(root, 1L) === Set(("a", 1.0), ("b", 2.0), ("c", 2.0)))
    assert(Upsert.readVersion(spark, root, 0L).isEmpty)
    // readVersion(current) ≡ read()
    assert(Upsert.read(spark, root).get.collect().toSet ===
      Upsert.readVersion(spark, root, 2L).get.collect().toSet)
  }

  test("upsert: bucketBy outside the merge key is rejected") {
    import spark.implicits._
    import graft.sinks.Upsert
    val root = tmpDir("graft-upsert-badbucket")
    val b = Seq(("a", 1L, 1.0)).toDF("k", "t", "v")
    // bucketing on a non-key column would let stale rows survive
    // last-writer-wins in a different bucket — must fail loudly
    intercept[IllegalArgumentException] {
      Upsert.merge(b, 0, root, keys = Seq("k"), bucketBy = Seq("v"))
    }
  }

  test("upsert: readKey literals are coerced to the stored key type") {
    import spark.implicits._
    import graft.sinks.Upsert
    val root = tmpDir("graft-upsert-typed")
    val b = (0 until 40).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    Upsert.merge(b, 0, root, keys = Seq("id"))
    // an Int literal for a LongType key used to hash to the wrong
    // bucket and silently return zero rows
    assert(Upsert.readKey(spark, root, Seq(7)).get.count() === 1)
    assert(Upsert.readKey(spark, root, Seq(7L)).get.count() === 1)
  }

  test("indicator tier survives an empty table") {
    assert(TradeOps.bollinger(emptyTrades).count() === 0)
    assert(TradeOps.rsi(emptyTrades).count() === 0)
    assert(TradeOps.drawdown(emptyTrades).count() === 0)
    assert(TradeOps.obv(emptyTrades).count() === 0)
    assert(TradeOps.vwap(emptyTrades).count() === 0)
    assert(TradeOps.pairwiseCorr(emptyTrades).count() === 0)
    assert(TradeOps.stochasticK(emptyTrades).count() === 0)
    assert(TradeOps.atr(emptyTrades).count() === 0)
    assert(TradeOps.anomalyFlags(emptyTrades).count() === 0)
    assert(TradeOps.cusum(emptyTrades).count() === 0)
    assert(TradeOps.winsorize(emptyTrades).count() === 0)
  }

  test("batch-4 operators survive an empty table") {
    assert(TradeOps.marketBeta(emptyTrades).count() === 0)
    assert(TradeOps.macd(emptyTrades).count() === 0)
    assert(TradeOps.modalPrice(emptyTrades).count() === 0)
    assert(TradeOps.robustStats(emptyTrades).count() === 0)
    assert(TradeOps.gzipJsonRoundTrip(spark, emptyTrades).count() === 0)
    assert(graft.ops.TextOps.codeDetect(emptyDocs).count() === 0)
  }

  test("keyset page and forward as-of survive empty sides") {
    assert(TradeOps.keysetPage(emptyTrades, "2024-01-15 00:00:00", 0L)
      .count() === 0)
    assert(TradeOps.columnProfileSketch(
      emptyTrades.select("event_id", "price")).count() === 2)
    import spark.implicits._
    val left = Seq((1L, 7L,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:10"), 1.0))
      .toDF("event_id", "user_id", "timestamp", "price")
    val emptyRight = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("timestamp", TimestampType),
        StructField("p", DoubleType))))
    val r = graft.ops.AsOfJoin
      .asOfForward(left, emptyRight, "user_id", "timestamp", "p", "nxt")
    assert(r.count() === 1 && r.head.isNullAt(4))
    assert(graft.ops.AsOfJoin.asOfForward(
      emptyTrades.select(col("event_id"), col("user_id"),
        col("timestamp"), col("price")),
      emptyRight, "user_id", "timestamp", "p", "nxt").count() === 0)
  }

  test("new corpus/event operators survive empty inputs") {
    import graft.ops.{Dedup, EventAnalytics, TextOps}
    assert(TextOps.winnow(emptyDocs).count() === 0)
    assert(TextOps.lmCoverage(emptyDocs).count() === 0)
    assert(TextOps.boilerplateStrip(emptyDocs).count() === 0)
    assert(Dedup.fuzzyPairs(emptyDocs).count() === 0)
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
    assert(EventAnalytics.cooccurrence(emptyEvents).count() === 0)
    val emptyLineitem = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_quantity", DoubleType))))
    // profile of an empty table: one row per column, all zeros
    val p = TradeOps.columnProfile(emptyLineitem).collect()
    assert(p.length === 2 && p.forall(r => r.getLong(1) === 0))
  }

  test("batch-5 operators survive empty inputs") {
    assert(TradeOps.mergeIntervals(emptyTrades).count() === 0)
    assert(TradeOps.equiDepthHistogram(emptyTrades).count() === 0)
    assert(TradeOps.walkForwardSplits(emptyTrades).count() === 0)
    assert(TradeOps.deltaEncode(emptyTrades).count() === 0)
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType))))
    assert(graft.ops.EventAnalytics.lastTouchAttribution(emptyEvents)
      .count() === 0)
    assert(TradeOps.scd2Build(emptyTrades).count() === 0)
    assert(TradeOps.kfoldAssign(emptyTrades).count() === 0)
    assert(TradeOps.zscoreScale(emptyTrades).count() === 0)
    assert(TradeOps.schemaEvolutionRead(spark, emptyTrades).count() === 0)
  }

  // the range-search operator went with the vector-search tier; the
  // name is kept so the suite's test ids stay stable
  test("batch-8: cdc apply, rfm quartiles, yoy, range search invariants") {
    import graft.ops.{Incremental, Relational}
    // CDC apply: empty feed → empty snapshot
    assert(Incremental.cdcApply(emptyTrades).count() === 0)
    // every surviving key's LAST change must be an upsert, and every
    // tombstone-last key must be absent — cross-checked via max_by on
    // the same total (timestamp, event_id) order
    val trades = graft.Tables.trades(spark, sf)
    val lastOp = trades
      .groupBy("user_id")
      .agg(max_by(col("event_id") % 10 === 0,
        struct(col("timestamp"), col("event_id"))).as("last_is_del"))
    val applied = Incremental.cdcApply(trades)
    val joined = applied.join(lastOp, "user_id")
    assert(joined.filter(col("last_is_del")).count() === 0)
    assert(applied.count() ===
      lastOp.filter(!col("last_is_del")).count())
    // RFM: quartile sizes differ by at most 1 per score; segments
    // compose the three digits exactly
    val rfm = Relational.rfmSegments(spark, sf).cache()
    for (c <- Seq("r_q", "f_q", "m_q")) {
      val sizes = rfm.groupBy(c).count().select("count")
        .collect().map(_.getLong(0))
      assert(sizes.length === 4, s"$c must have 4 tiles")
      assert(sizes.max - sizes.min <= 1, s"$c tiles unbalanced: ${sizes.toSeq}")
    }
    assert(rfm.filter(col("rfm_segment") =!=
      col("r_q") * 100 + col("f_q") * 10 + col("m_q")).count() === 0)
    rfm.unpersist()
    // YoY: exactly the months with no prior-year twin have NULL pct
    val yoy = Relational.yoyRevenue(spark, sf).cache()
    val firstYear = yoy.agg(min("y")).head().getLong(0)
    assert(yoy.filter(col("yoy_pct").isNull && col("y") =!= firstYear)
      .count() === 0)
    assert(yoy.filter(col("y") === firstYear && col("yoy_pct").isNotNull)
      .count() === 0)
    yoy.unpersist()
  }

  test("batch-9: containment, lsh recall, feature hash") {
    val docs = graft.Tables.load(spark, sf, "documents")
    // max-containment dominates jaccard, so every strong jaccard pair
    // must reappear in the containment report at the same threshold
    val jac = Dedup.ngramJaccard(docs).filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b")
    val cont = Dedup.containment(docs).cache()
    assert(jac.join(cont, Seq("doc_a", "doc_b"), "left_anti").count() === 0)
    assert(cont.filter(col("containment_ab") > 1.0 ||
      col("containment_ba") > 1.0).count() === 0)
    cont.unpersist()
    // lsh recall report: hit count bounded by both sides, rates in [0,1]
    val rec = Dedup.lshRecall(docs).head()
    val (nTrue, nCand, nHits) =
      (rec.getLong(0), rec.getLong(1), rec.getLong(2))
    assert(nHits <= math.min(nTrue, nCand))
    assert(rec.getDouble(3) >= 0 && rec.getDouble(3) <= 1)
    assert(rec.getDouble(4) >= 0 && rec.getDouble(4) <= 1)
    // feature hash: per-doc tf mass equals the doc's token count and
    // buckets stay in range
    val fh = TextOps.featureHash(docs).cache()
    assert(fh.filter(col("bucket") < 0 || col("bucket") >= 32).count() === 0)
    val mass = fh.groupBy("doc_id").agg(sum("tf").as("mass"))
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    assert(mass.join(toks, "doc_id")
      .filter(col("mass") =!= col("n_tok")).count() === 0)
    fh.unpersist()
    // empty-input coverage
    assert(Dedup.containment(emptyDocs).count() === 0)
    assert(TextOps.featureHash(emptyDocs).count() === 0)
  }

  test("batch-10: pivots, twap, group split, benford") {
    val trades = graft.Tables.trades(spark, sf)
    // pivot identities: R1 = 2P−L ≥ P ≥ 2P−H = S1, and P ∈ [L, H]
    val pp = TradeOps.pivotPoints(trades).cache()
    assert(pp.filter(col("s1") > col("r1") + 1e-9).count() === 0)
    assert(pp.filter(col("r1") < col("pivot") - 1e-9 ||
      col("s1") > col("pivot") + 1e-9).count() === 0)
    assert(pp.filter(col("pivot") > col("high") + 1e-9 ||
      col("pivot") < col("low") - 1e-9).count() === 0)
    assert(pp.filter(col("open") > col("high") || col("open") < col("low") ||
      col("close") > col("high") || col("close") < col("low")).count() === 0)
    pp.unpersist()
    // twap lies within [low, high] of its day
    val tw = TradeOps.twap(trades)
    val dayRange = trades.groupBy(col("symbol"),
      to_date(col("timestamp")).cast("timestamp").as("day"))
      .agg(min("price").as("lo"), max("price").as("hi"))
    assert(tw.join(dayRange, Seq("symbol", "day"))
      .filter(col("twap") < col("lo") - 1e-6 ||
        col("twap") > col("hi") + 1e-6).count() === 0)
    // group split: assignment is a pure function of user_id — one split
    // per user — and row mass adds up
    val gs = TradeOps.groupSplit(trades).cache()
    assert(gs.groupBy("user_id").count().filter(col("count") > 1)
      .count() === 0)
    assert(gs.agg(sum("n_rows")).head().getLong(0) === trades.count())
    gs.unpersist()
    // benford: digits 1-9, shares sum to 1
    val bf = TradeOps.benfordProfile(trades).cache()
    assert(bf.filter(col("digit") < 1 || col("digit") > 9).count() === 0)
    val shareSum = bf.agg(sum("share")).head().getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    bf.unpersist()
    // empty-input coverage
    assert(TradeOps.pivotPoints(emptyTrades).count() === 0)
    assert(TradeOps.twap(emptyTrades).count() === 0)
    assert(TradeOps.groupSplit(emptyTrades).count() === 0)
    assert(TradeOps.benfordProfile(emptyTrades).count() === 0)
  }

  test("batch-12: dynamic overwrite, autocorr invariants") {
    // dynamic overwrite: untouched days byte-identical to the source,
    // revised day shifted by exactly +1.00
    val trades = graft.Tables.trades(spark, sf)
    val out = TradeOps.dynamicPartitionOverwrite(spark, trades,
      reviseDay = "2024-01-15").cache()
    val orig = trades.select(col("event_id"), col("price").as("p0"))
    val joined = out.join(orig, "event_id")
    assert(joined.filter(
      col("day") =!= lit("2024-01-15").cast("timestamp") &&
        col("price") =!= col("p0")).count() === 0)
    assert(joined.filter(
      col("day") === lit("2024-01-15").cast("timestamp") &&
        col("price") =!= col("p0") + 1.0d).count() === 0)
    assert(out.count() === trades.count())
    out.unpersist()
    // autocorrelation is a correlation: |r| <= 1 (Cauchy-Schwarz)
    val ac = TradeOps.autocorr(trades)
    assert(ac.filter(abs(col("autocorr_lag1")) > 1.0 + 1e-9).count() === 0)
    assert(TradeOps.autocorr(emptyTrades).count() === 0)
  }

  test("batch-13: WAP transaction, KS drift, stickiness") {
    import graft.sinks.Wap
    val trades = graft.Tables.trades(spark, sf)
    val root = tmpDir("wap_spec")
    // valid publish lands and reads back exactly
    val r1 = Wap.publish(spark, trades, root)
    assert(r1.published, r1.reason)
    assert(Wap.read(spark, root).count() === trades.count())
    // each audit rule rejects, and a failed publish NEVER moves the pointer
    val nullKeys = trades.withColumn("event_id",
      when(col("event_id") % 2 === 0, lit(null)).otherwise(col("event_id")))
    assert(!Wap.publish(spark, nullKeys, root).published)
    val dupKeys = trades.withColumn("event_id", lit(7L))
    assert(!Wap.publish(spark, dupKeys, root).published)
    assert(!Wap.publish(spark, trades.limit(0), root).published)
    val served = Wap.read(spark, root)
    assert(served.count() === trades.count())
    assert(served.filter(col("event_id").isNull).count() === 0)
    // KS of a distribution against itself is 0; disjoint split is > 0
    val ks = TradeOps.ksDrift(trades).cache()
    assert(ks.filter(col("ks_stat") < 0 || col("ks_stat") > 1).count() === 0)
    assert(ks.count() > 0)
    ks.unpersist()
    // stickiness: avg DAU can never exceed MAU
    val st = graft.ops.EventAnalytics.stickiness(graft.Tables.events(spark, sf))
    assert(st.filter(col("stickiness") > 1.0 + 1e-9).count() === 0)
    assert(st.filter(col("avg_dau") > col("mau").cast("double") + 1e-9)
      .count() === 0)
  }

  // k-means went with the vector-search tier; the name is kept so the
  // suite's test ids stay stable
  test("batch-20: co-purchase lift, k-means purity bounds") {
    import graft.ops.Relational
    val cp = Relational.copurchase(spark, sf, minSupport = 3L).cache()
    assert(cp.filter(col("part_a") >= col("part_b")).count() === 0)
    assert(cp.filter(col("n_both") < 3).count() === 0)
    assert(cp.filter(col("lift") <= 0).count() === 0)
    cp.unpersist()
    // crafted lift: parts (1,2) together in 5 of 10 orders, never apart
    // -> c_ab=5, c_a=c_b=5, N=10, lift = 5*10/(5*5) = 2 exactly
    import spark.implicits._
    val li = ((1L to 5L).flatMap(o => Seq((o, 1L), (o, 2L))) ++
      (6L to 10L).map(o => (o, 3L)))
      .toDF("l_orderkey", "l_partkey")
    val dir = tmpDir("graft-copurchase")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val crafted = Relational.copurchase(spark, dir, minSupport = 2L)
      .collect()
    assert(crafted.length === 1)
    assert(crafted.head.getAs[Long]("n_both") === 5L &&
      crafted.head.getAs[Double]("lift") === 2.0)
  }

  test("batch-19: convert latency order, LTV monotone, realized vol") {
    import graft.ops.EventAnalytics
    val events = graft.Tables.events(spark, sf)
    // median ≤ p90, both positive (tp strictly after tv by construction)
    val ttc = EventAnalytics.timeToConvert(events)
    assert(ttc.filter(col("median_us") <= 0 ||
      col("p90_us") < col("median_us")).count() === 0)
    // LTV: cumulative revenue never decreases along a cohort's ages
    val ltv = EventAnalytics.ltvCurve(events)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_day").orderBy("age_days")
    assert(ltv.withColumn("prev", lag(col("cum_revenue_cents"), 1).over(w))
      .filter(col("prev").isNotNull &&
        col("cum_revenue_cents") < col("prev")).count() === 0)
    // realized vol: non-negative; a flat crafted series realizes 0
    val trades = graft.Tables.trades(spark, sf)
    assert(TradeOps.realizedVol(trades)
      .filter(col("realized_vol") < 0).count() === 0)
    import spark.implicits._
    val flat = (1L to 10L).map(i =>
      (i, "F", new java.sql.Timestamp(1700000000000L + i * 1000), 5.0))
      .toDF("event_id", "symbol", "timestamp", "price")
    val fv = TradeOps.realizedVol(flat).head()
    assert(fv.getAs[Long]("rv_cent2") === 0L &&
      fv.getAs[Double]("realized_vol") === 0.0)
    assert(TradeOps.realizedVol(emptyTrades).count() === 0)
  }

  test("batch-18: MOR merge, zone-map pruning really prunes, robust scale") {
    val trades = graft.Tables.trades(spark, sf)
    // merge-on-read: untouched rows identical, revised day +2.00, no
    // row gained or lost by the read-time merge
    val mor = TradeOps.mergeOnRead(spark, trades,
      reviseDay = "2024-01-15").cache()
    assert(mor.count() === trades.count())
    val j = mor.join(
      trades.select(col("event_id"), col("price").as("p0")), "event_id")
    assert(j.filter(to_date(col("timestamp")) =!= lit("2024-01-15") &&
      col("price") =!= col("p0")).count() === 0)
    assert(j.filter(to_date(col("timestamp")) === lit("2024-01-15") &&
      col("price") =!= col("p0") + 2.0d).count() === 0)
    mor.unpersist()
    // zone maps: pruned answer ≡ unpruned answer, and the stats table
    // proves at least one file was skippable (clustering worked)
    val zp = TradeOps.zonemapPrune(spark, trades)
    val plain = trades.filter(col("price").between(50.0, 100.0))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(volume * 100) AS BIGINT)")).as("sum_vol_cents"))
    assert(zp.exceptAll(plain).count() === 0 &&
      plain.exceptAll(zp).count() === 0)
    val zdir = s"${System.getProperty("java.io.tmpdir")}/graft_zonemap_" +
      spark.sparkContext.applicationId
    val stats = spark.read.parquet(zdir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("price")).as("zlo"), max(col("price")).as("zhi"))
    assert(stats.filter(col("zhi") < 50.0 || col("zlo") > 100.0)
      .count() > 0, "no file was prunable — range clustering failed")
    // robust scale: monotone in price per symbol, median row at 0
    val rs = TradeOps.robustScale(trades)
      .join(trades.select("event_id", "price"), "event_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
      .orderBy(col("price"), col("event_id"))
    assert(rs.withColumn("prev", lag(col("robust_scaled"), 1).over(w))
      .filter(col("prev").isNotNull && col("robust_scaled").isNotNull &&
        col("prev") > col("robust_scaled")).count() === 0)
    assert(TradeOps.robustScale(emptyTrades).count() === 0)
  }

  // RRF fusion went with the vector-search tier; the name is kept so the
  // suite's test ids stay stable
  test("batch-17: RRF bounds, embargo partition, TV drift range") {
    val docs = graft.Tables.load(spark, sf, "documents")
    // purged embargo: roles partition each fold's span; the embargo band
    // really holds rows at this sf (the leak zone is non-empty), and
    // train/test never touch it
    val trades = graft.Tables.trades(spark, sf)
    val pe = TradeOps.purgedEmbargoSplits(trades).cache()
    assert(pe.filter(col("role") === "embargo").count() > 0)
    val wf = pe.groupBy("fold").pivot("role",
      Seq("train", "embargo", "test")).sum("n_rows")
    assert(wf.filter(col("train").isNull || col("embargo").isNull ||
      col("test").isNull).count() === 0)
    pe.unpersist()
    // TV drift ∈ [0, 1); a single-source corpus drifts exactly 0
    val tv = TextOps.tvDrift(docs)
    assert(tv.filter(col("tv_drift") < 0 || col("tv_drift") >= 1).count() === 0)
    val one = TextOps.tvDrift(docs.withColumn("source", lit("only")))
    assert(one.count() === 1 &&
      one.head.getAs[Double]("tv_drift") === 0.0)
  }

  // MIPS ranking went with the vector-search tier; the name is kept so
  // the suite's test ids stay stable
  test("batch-16: cross-dedup vs full pair list, MIPS ranking") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val cd = Dedup.crossDedup(docs).cache()
    // output covers exactly the new-batch slice, one row each
    assert(cd.filter(col("doc_id") % 10 =!= 0).count() === 0)
    assert(cd.count() ===
      docs.filter(col("doc_id") % 10 === 0).count())
    assert(cd.filter(
      (col("is_dup") === 1) =!= (col("n_matches") > 0)).count() === 0)
    // every flagged new doc has a witness in the FULL pair list whose
    // other side is corpus or an earlier new doc (and vice versa)
    val pairs = Dedup.minhashPairs(docs)
      .filter(col("est_jaccard") >= Dedup.resolveThreshold)
    val witnesses = pairs.select(col("doc_a").as("n"), col("doc_b").as("o"))
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .filter(col("n") % 10 === 0 &&
        (col("o") % 10 =!= 0 || col("o") < col("n")))
      .select(col("n").as("doc_id")).distinct()
    val flagged = cd.filter(col("is_dup") === 1).select("doc_id")
    assert(flagged.exceptAll(witnesses).count() === 0)
    assert(witnesses.exceptAll(flagged).count() === 0)
    cd.unpersist()
  }

  test("batch-15: quantile rank ≡ percent_rank, chi2 zero-drift, fingerprint") {
    val trades = graft.Tables.trades(spark, sf)
    // the bucket-decomposed rank reproduces Spark's own percent_rank
    // window on the same total order, row for row
    val qr = TradeOps.quantileRank(trades)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
      .orderBy(expr("CAST(round(price * 100) AS BIGINT)"), col("event_id"))
    val ref = trades.select(col("event_id"),
      percent_rank().over(w).as("ref_pr"))
    assert(qr.join(ref, "event_id")
      .filter(col("pct_rank") =!= col("ref_pr")).count() === 0)
    // chi-square: non-negative on real data; exactly zero when every
    // symbol's hourly profile is proportional to the global one
    assert(TradeOps.chisqHourly(trades)
      .filter(col("chi2") < 0).count() === 0)
    import spark.implicits._
    val uniform = (for { s <- Seq("A", "B"); h <- 0 until 4; i <- 0 until 3 }
      yield (s.hashCode.toLong * 100 + h * 10 + i, s,
        new java.sql.Timestamp(1700000000000L + h * 3600L * 1000L), 1.0))
      .toDF("event_id", "symbol", "timestamp", "price")
    val z = TradeOps.chisqHourly(uniform)
    assert(z.filter(col("chi2") =!= 0.0d).count() === 0)
    // fingerprint: invariant under row order, sensitive to a value edit
    val fp = TradeOps.tableFingerprint(trades).cache()
    val fpShuffled = TradeOps.tableFingerprint(
      trades.repartition(7, col("event_id")))
    assert(fp.exceptAll(fpShuffled).count() === 0)
    val tampered = TradeOps.tableFingerprint(
      trades.withColumn("price",
        when(col("event_id") === 0L, col("price") + 1.0d)
          .otherwise(col("price"))))
    assert(fp.exceptAll(tampered).count() === 1)
    fp.unpersist()
  }

  test("batch-14: concentration bounds, LOO encoding identity") {
    val trades = graft.Tables.trades(spark, sf)
    // HHI ∈ (0, 1]; Gini ∈ [0, 1); uniform volumes → gini 0, hhi 1/n
    val cc = TradeOps.concentration(trades).cache()
    assert(cc.filter(col("hhi") <= 0 || col("hhi") > 1).count() === 0)
    assert(cc.filter(col("gini") < -1e-9 || col("gini") >= 1).count() === 0)
    cc.unpersist()
    // a perfectly uniform market: every user the same volume
    import spark.implicits._
    val uniform = (1L to 100L).map(u =>
      (u, "X", u, new java.sql.Timestamp(1700000000000L + u), 1.0, 2.0, 2.0))
      .toDF("event_id", "symbol", "user_id", "timestamp", "price",
        "volume", "usd_volume")
    val u = TradeOps.concentration(uniform).head()
    assert(u.getAs[Double]("gini") === 0.0)
    assert(math.abs(u.getAs[Double]("hhi") - 0.01) < 1e-9)
    // LOO identity: n·mean = Σ = loo·(n−1) + x for every row
    val enc = TradeOps.targetEncode(trades)
    val stats = trades.groupBy("symbol")
      .agg(sum(col("usd_volume").cast("decimal(18,6)")).cast("double").as("s"),
        count(lit(1)).as("n"))
    val joined = enc.join(trades.select("event_id", "usd_volume"), "event_id")
      .join(stats, "symbol")
      .withColumn("rebuilt",
        col("symbol_loo_mean") * (col("n") - 1).cast("double")
          + col("usd_volume"))
    // loo was rounded to 6 dp; (n-1) ≤ corpus size bounds the error
    assert(joined.filter(
      abs(col("rebuilt") - col("s")) > col("n").cast("double") * 1e-5)
      .count() === 0)
    assert(TradeOps.concentration(emptyTrades).count() === 0)
    assert(TradeOps.targetEncode(emptyTrades).count() === 0)
    assert(TradeOps.ksDrift(emptyTrades).count() === 0)
  }

  test("r13 newcomers survive an empty table") {
    assert(TradeOps.rollSpread(emptyTrades).count() === 0)
    assert(TradeOps.bootstrapCi(emptyTrades).count() === 0)
    assert(TradeOps.parkinsonRange(emptyTrades).count() === 0)
    assert(TradeOps.rollingBeta(emptyTrades).count() === 0)
  }

  test("roll spread degenerate shapes: constant prices give zero " +
      "covariance and a NULL spread; a 2-tick symbol has no pairs") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(id: Long, sym: String, p: Double) =
      (id, sym, 1L, new java.sql.Timestamp(ts.getTime + id * 1000),
        p, 1.0, p)
    val flatAndShort = Seq(
      t(1, "FLAT", 42.0), t(2, "FLAT", 42.0), t(3, "FLAT", 42.0),
      t(4, "FLAT", 42.0),
      t(5, "TWO", 10.0), t(6, "TWO", 11.0))
      .toDF("event_id", "symbol", "user_id", "timestamp", "price",
        "volume", "usd_volume")
    val out = graft.ops.TradeOps.rollSpread(flatAndShort).collect()
    assert(out.map(_.getString(0)).toSet == Set("FLAT"),
      "2-tick symbol must drop (no (d, d-1) pairs); constant symbol stays")
    val flat = out.head
    assert(flat.getLong(1) == 2L)
    assert(flat.getDouble(2) == 0.0, "constant prices: zero covariance")
    assert(flat.isNullAt(3), "zero covariance: spread undefined")
  }

  test("short-doc shingle guard: docs under 3 words emit ZERO shingles " +
      "across the whole word-3-gram tier (ADVICE r16 — descending " +
      "sequence() + concat_ws null-skip would fabricate a bogus shingle)") {
    import spark.implicits._
    // two docs sharing only the pathological short text: without the
    // guard, both emit the 1-word "shingle" `hi` and pair up at
    // jaccard 1.0; with it they have empty shingle sets and no pairs
    val docs = Seq(
      (1L, "hi", "en", "feedA", 2L),
      (2L, "hi", "en", "feedA", 2L),
      (3L, "one two", "en", "feedA", 7L),
      (4L, "alpha beta gamma alpha beta gamma", "en", "feedA", 33L),
      (5L, "alpha beta gamma alpha beta gamma", "en", "feedA", 33L),
      (6L, "alpha beta gamma alpha beta gamma", "en", "feedB", 33L),
      (7L, "yo", "en", "feedB", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val jac = graft.ops.Dedup.ngramJaccard(docs, 0.1).collect()
    assert(jac.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((4L, 5L)), "only the real same-source 3+-word twins may pair " +
        "(unguarded, docs 1/2 pair at jaccard 1.0 via the bogus 'hi')")
    val cont = graft.ops.Dedup.containment(docs, 0.1).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((4L, 5L)))
    // source grain: the repeated text has 3 distinct shingles; short
    // docs must add nothing. Unguarded, "hi"/"yo"/"one two" each emit
    // a bogus shingle AND a shared "" — inflating sizes to 6/5 and
    // the intersection to 4.
    val sim = graft.ops.Dedup.sourceSimilarity(docs).collect()
    assert(sim.length === 1)
    assert(sim.head.getLong(2) === 3L && sim.head.getLong(3) === 3L &&
      sim.head.getLong(4) === 3L,
      "short docs contribute no shingles to the source sets")
  }

  test("supplier hhi degenerate shape: a single-supplier nation is " +
      "full concentration (share = hhi = 1e6)") {
    val out = graft.ops.Relational.supplierHhi(spark, sf).collect()
    out.filter(_.getLong(1) == 1L).foreach { r =>
      assert(r.getLong(3) == 1000000L && r.getLong(4) == 1000000L)
    }
    // and every multi-supplier nation is strictly less concentrated
    out.filter(_.getLong(1) > 1L).foreach { r =>
      assert(r.getLong(4) < 1000000L)
    }
  }
}
