package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sinks.Upsert
import graft.streaming.StreamingJob

/** Restart/recovery (SURVEY.md §5.5): kill a checkpointed 4-query DAG
  * mid-stream, append more input, restart from the same checkpoints, and
  * assert no loss (all rows reach the sinks) and no dupes (upsert keys
  * stay unique) — the reference's K5/T12 exactly-once envelope.
  */
class RecoverySpec extends SparkSuite {

  private val t0 = 1700000000000L

  private def envelope(symbol: String, tMillis: Long, price: Double,
      volume: Double, cv: Double): String =
    s"""{"data":[{"c":null,"p":$price,"s":"$symbol","t":$tMillis,"v":$volume,"cv":$cv}],"type":"trade"}"""

  private def writeBatch(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("checkpointed queries resume after a stop with no loss and no dupes") {
    val in = tmpDir("graft-recov-in")
    val out = tmpDir("graft-recov-out")
    val ckpt = tmpDir("graft-recov-ckpt")

    def startAll() = StreamingJob.run(spark,
      spark.readStream.text(in).select(col("value")),
      StreamingJob.Config(out, ckpt))

    // phase 1: three trades across two minutes, then hard stop
    writeBatch(in, "b1.json", Seq(
      envelope("BTC", t0, 10.0, 1.0, 1.0),
      envelope("BTC", t0 + 5000, 12.0, 2.0, 3.0),
      envelope("ETH", t0 + 60000, 11.0, 4.0, 4.0)))
    val q1 = startAll()
    try q1.foreach(_.processAllAvailable()) finally q1.foreach(_.stop())

    val priceAfter1 = Upsert.read(spark, s"$out/price_tracking").get.count()
    assert(priceAfter1 === 3)

    // phase 2: more data arrives while the job is down; restart resumes
    // from the recorded offsets — nothing lost, nothing reprocessed.
    writeBatch(in, "b2.json", Seq(
      envelope("BTC", t0 + 61000, 20.0, 6.0, 9.0),
      envelope("ETH", t0 + 120000, 13.0, 8.0, 12.0)))
    val q2 = startAll()
    try q2.foreach(_.processAllAvailable()) finally q2.foreach(_.stop())

    val price = Upsert.read(spark, s"$out/price_tracking").get
    assert(price.count() === 5, "every trade exactly once in the price sink")

    val vol = Upsert.read(spark, s"$out/volume_tracking").get
    // three 1-minute windows: BTC m0 (1+2), BTC m1 (6) merged with ETH m1
    // rows keyed (symbol, minute) — keys must be unique (idempotent upsert)
    assert(vol.groupBy("symbol", "timestamp").count()
      .filter(col("count") > 1).count() === 0, "no duplicate upsert keys")
    val btcM1 = vol.filter(col("symbol") === "BTC" &&
      col("total_volume") === 6.0).count()
    assert(btcM1 === 1, "post-restart batch revised the minute-1 window")
    val btcM0 = vol.filter(col("symbol") === "BTC" &&
      col("total_volume") === 3.0).count()
    assert(btcM0 === 1, "pre-restart window intact after recovery")
  }

  test("DAG stores keep their bucket count across a restart at another " +
      "shuffle width; every key stays readable through readKey") {
    val in = tmpDir("graft-width-in")
    val out = tmpDir("graft-width-out")
    val ckpt = tmpDir("graft-width-ckpt")
    val syms = (0 until 20).map(i => s"S$i")
    def startAll() = StreamingJob.run(spark,
      spark.readStream.text(in).select(col("value")),
      StreamingJob.Config(out, ckpt))
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt

    writeBatch(in, "b1.json", syms.map(s => envelope(s, t0, 10.0, 1.0, 1.0)))
    val q1 = startAll()
    try q1.foreach(_.processAllAvailable()) finally q1.foreach(_.stop())
    // the second minute arrives while the job is down; the restart runs
    // at twice the width, and its merges must keep the stored mapping
    writeBatch(in, "b2.json", syms.map(s => envelope(s, t0 + 60000, 11.0, 2.0, 3.0)))
    spark.conf.set("spark.sql.shuffle.partitions", (2 * width).toString)
    try {
      val q2 = startAll()
      try q2.foreach(_.processAllAvailable()) finally q2.foreach(_.stop())
    } finally spark.conf.set("spark.sql.shuffle.partitions", width.toString)

    Seq("price_tracking", "volume_tracking").foreach { t =>
      val root = s"$out/$t"
      assert(storeBuckets(root) === width, s"$t: bucket count pinned at creation")
      assert(Upsert.read(spark, root).get.count() === 2 * syms.size)
      syms.foreach { s =>
        assert(Upsert.readKey(spark, root, Seq(s)).get.count() === 2,
          s"$t: both minutes of $s through readKey")
      }
    }
  }

  test("predict query resumes from checkpoint and converges to the batch result") {
    import spark.implicits._
    val n = 10
    val trades = Tables.trades(spark, sf)
    val bars = graft.ops.TradeOps.slidingFeatures(trades)
    val stats = graft.ops.Predict.scalerStats(bars)
    val expected = graft.ops.Predict
      .predictNext(trades, n, scorer = graft.ops.Predict.linearScorer(n))
      .select("symbol", "timestamp", "predicted_close")
      .as[(String, java.sql.Timestamp, Double)].collect().toSet

    val feed = bars.select(col("symbol"), col("timestamp"), col("close"),
        col("high"), col("low"), col("total_usd_volume"),
        col("total_volume").as("total_btc_volume"), col("num_trades"))
    val in = tmpDir("graft-predict-in")
    val out = tmpDir("graft-predict-rout")
    val ckpt = tmpDir("graft-predict-rckpt")
    // split the bar history in half by time; land each half as one file
    val cut = bars.selectExpr("percentile_approx(CAST(timestamp AS DOUBLE), 0.5)")
      .head.getDouble(0)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tmpDir("graft-predict-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(in, name))
    }
    def start() = StreamingJob.runPredict(spark,
      spark.readStream.schema(feed.schema).parquet(in),
      stats, StreamingJob.Config(out, ckpt), n)

    land(feed.filter(col("timestamp").cast("double") <= cut), "b1.parquet")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // second half arrives while the job is down; restart resumes the
    // buffer state from the checkpoint — predictions pick up mid-stream
    land(feed.filter(col("timestamp").cast("double") > cut), "b2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = Upsert.read(spark, s"$out/predictions").get
      .select("symbol", "timestamp", "predicted_close")
      .as[(String, java.sql.Timestamp, Double)].collect().toSet
    assert(got === expected,
      "restarted predict stream must equal the batch scorer result")
  }

  /** Land a small DataFrame as exactly one parquet file in `dir` —
    * the file-source seam every kill-and-resume scenario uses
    * (MemoryStream cannot survive a checkpoint restart; files can). */
  private def landParquet(df: org.apache.spark.sql.DataFrame,
      dir: String, name: String): Unit = {
    val tmp = tmpDir("graft-recov-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(dir, name))
  }

  test("query_10 retractable topk: kill mid-feed, resume with evicting deletes, double-replay no-ops") {
    import spark.implicits._
    // per-type values 1..20: phase 2 DELETES the reigning top value of
    // each type, so the post-restart view must promote runners-up from
    // multiset state that predates the restart
    def signedDf(rows: Seq[(String, Long, Long)]) =
      rows.map { case (et, v, s) =>
        (et, new java.sql.Timestamp(t0), v.toDouble, s) }
        .toDF("event_type", "ts", "value", "sign")
    val inserts = for (et <- Seq("view", "buy"); v <- 1L to 20L)
      yield (et, v, 1L)
    val (phase1, phase2in) = inserts.splitAt(25)
    val deletes = Seq(("view", 20L, -1L), ("buy", 20L, -1L))
    val in = tmpDir("graft-topk-in")
    val out = tmpDir("graft-topk-out")
    val ckpt = tmpDir("graft-topk-ckpt")
    val schema = signedDf(Seq.empty).schema
    def start() = StreamingJob.runRetractableTopK(spark,
      spark.readStream.schema(schema).parquet(in),
      StreamingJob.Config(out, ckpt))
    landParquet(signedDf(phase1), in, "b1.parquet")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // deletes of the top values arrive while the job is down
    landParquet(signedDf(phase2in ++ deletes), in, "b2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val root = s"$out/topk_state"
    def view() = StreamingJob.retractTopKView(spark, root)
      .select("event_type", "rank", "value_micro")
      .as[(String, Long, Long)].collect().toSet
    // value 20 deleted -> top-3 is 19, 18, 17 for both types
    val expected = (for (et <- Seq("view", "buy"); r <- 1 to 3)
      yield (et, r.toLong, (20L - r) * 1000000L)).toSet
    assert(view() === expected,
      "post-restart view must promote runners-up after top eviction")
    // forced double-replay of the final batch: the applied-batch marker
    // riding the store's _CURRENT flip must make the re-merge a no-op
    val lastId = Upsert.lastAppliedBatch(root).get
    StreamingJob.applyRetractTopKBatch(
      signedDf(phase2in ++ deletes), lastId, root)
    assert(view() === expected, "replayed batch double-counted the multiset")
  }

  test("query_09 minmax: a delete racing its insert survives the restart as negative multiplicity") {
    import spark.implicits._
    def signedDf(rows: Seq[(String, Long, Long)]) =
      rows.map { case (et, v, s) =>
        (et, new java.sql.Timestamp(t0), v.toDouble, s) }
        .toDF("event_type", "ts", "value", "sign")
    // phase 1: values 5..8 insert, PLUS a delete of value 9 whose
    // insert only arrives after the restart (mult -1 must persist)
    val phase1 = Seq(("view", 5L, 1L), ("view", 6L, 1L),
      ("view", 7L, 1L), ("view", 8L, 1L), ("view", 9L, -1L))
    // phase 2: the raced insert (nets to zero -> absent) and value 4
    val phase2 = Seq(("view", 9L, 1L), ("view", 4L, 1L))
    val in = tmpDir("graft-minmax-in")
    val out = tmpDir("graft-minmax-out")
    val ckpt = tmpDir("graft-minmax-ckpt")
    val schema = signedDf(Seq.empty).schema
    def start() = StreamingJob.runRetractableMinMax(spark,
      spark.readStream.schema(schema).parquet(in),
      StreamingJob.Config(out, ckpt))
    landParquet(signedDf(phase1), in, "b1.parquet")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val root = s"$out/minmax_state"
    // the raced delete is IN the store as a negative row right now
    val raced = Upsert.read(spark, root).get
      .filter(col("v_micro") === 9000000L)
      .select("mult").as[Long].collect().toSeq
    assert(raced === Seq(-1L),
      "negative multiplicity must persist across the stop")
    landParquet(signedDf(phase2), in, "b2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val view = StreamingJob.retractMinMaxView(spark, root)
      .select("min_value_micro", "max_value_micro")
      .as[(Long, Long)].collect().toSeq
    // 9 cancelled to zero: max is 8, min is 4
    assert(view === Seq((4000000L, 8000000L)),
      "cancelled value must not appear; min/max over survivors")
    val lastId = Upsert.lastAppliedBatch(root).get
    StreamingJob.applyRetractBatch(signedDf(phase2), lastId, root)
    val view2 = StreamingJob.retractMinMaxView(spark, root)
      .select("min_value_micro", "max_value_micro")
      .as[(Long, Long)].collect().toSeq
    assert(view2 === view, "replayed batch double-counted the multiset")
  }

  test("query_07 cdc: tombstoned key stays dead over a restart, re-insert after resume revives it") {
    import spark.implicits._
    def cdcDf(rows: Seq[(Long, Long, Long, Double, String)]) =
      rows.map { case (u, tsOff, eid, p, op) =>
        (u, new java.sql.Timestamp(t0 + tsOff), eid, p, op) }
        .toDF("user_id", "timestamp", "event_id", "price", "op")
    // phase 1: u1 insert+update, u2 insert then DELETE (tombstone)
    val phase1 = Seq(
      (1L, 0L, 1L, 10.0, "U"), (1L, 1000L, 2L, 11.0, "U"),
      (2L, 0L, 3L, 20.0, "U"), (2L, 2000L, 4L, 0.0, "D"))
    // phase 2 (after restart): u3 insert, u2 REVIVED
    val phase2 = Seq(
      (3L, 3000L, 5L, 30.0, "U"), (2L, 4000L, 6L, 25.0, "U"))
    val in = tmpDir("graft-cdc-in")
    val out = tmpDir("graft-cdc-rout")
    val ckpt = tmpDir("graft-cdc-rckpt")
    val schema = cdcDf(Seq.empty).schema
    def start() = StreamingJob.runCdcApply(spark,
      spark.readStream.schema(schema).parquet(in),
      StreamingJob.Config(out, ckpt))
    landParquet(cdcDf(phase1), in, "b1.parquet")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val root = s"$out/cdc_state"
    def state() = Upsert.read(spark, root).get
      .select("user_id", "last_price").as[(Long, Double)].collect().toSet
    assert(state() === Set((1L, 11.0)),
      "tombstoned key must be absent at the stop point")
    landParquet(cdcDf(phase2), in, "b2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(state() === Set((1L, 11.0), (2L, 25.0), (3L, 30.0)),
      "re-insert after restart must revive the tombstoned key")
    // CDC apply is naturally idempotent: re-running the last batch
    // (same batchId) must leave the snapshot unchanged — no marker
    StreamingJob.applyCdcBatch(cdcDf(phase2), batchId = 99L, root)
    assert(state() === Set((1L, 11.0), (2L, 25.0), (3L, 30.0)),
      "CDC batch replay must be a no-op on the snapshot")
  }

  test("interval join: click buffered before the kill joins a purchase after resume, exactly once") {
    import spark.implicits._
    def evDf(rows: Seq[(Long, Long, Double)]) =
      rows.map { case (u, tsOff, p) =>
        (u, new java.sql.Timestamp(t0 + tsOff), p) }
        .toDF("user_id", "ts", "price")
    val clicksIn = tmpDir("graft-ssj-clicks")
    val purchIn = tmpDir("graft-ssj-purch")
    val out = tmpDir("graft-ssj-out")
    val ckpt = tmpDir("graft-ssj-ckpt")
    val schema = evDf(Seq.empty).schema
    def start() = graft.streaming.StreamJoins.purchasesWithRecentClicks(
        spark.readStream.schema(schema).parquet(purchIn),
        spark.readStream.schema(schema).parquet(clicksIn),
        windowSec = 60)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    // phase 1: user 1 clicks; an unrelated purchase keeps event time
    // LOW (t0+10s) so the watermark cannot evict the buffered click
    landParquet(evDf(Seq((1L, 30000L, 1.0))), clicksIn, "c1.parquet")
    landParquet(evDf(Seq((9L, 10000L, 5.0))), purchIn, "p1.parquet")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // phase 2: user 1 purchases 30s after the click — the click lives
    // only in the RECOVERED join state
    landParquet(evDf(Seq((1L, 60000L, 99.0))), purchIn, "p2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // phase 3: restart once more with nothing new — no re-emission
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val rows = spark.read.schema(org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("purchase_ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("purchase_price",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("click_ts",
            org.apache.spark.sql.types.TimestampType))))
      .parquet(out)
      .select("user_id", "purchase_price", "click_ts")
      .as[(Long, Double, java.sql.Timestamp)].collect().toSeq
    assert(rows === Seq((1L, 99.0, new java.sql.Timestamp(t0 + 30000L))),
      "exactly one cross-restart join row, from recovered state")
  }

  test("evolving file sink: restart across the partition-spec cut, unified read exact, replay no-ops") {
    import graft.streaming.EvolvingSink
    import spark.implicits._
    val in = tmpDir("graft-evo-in")
    val out = tmpDir("graft-evo-out")
    val ckpt = tmpDir("graft-evo-ckpt")
    val cutDay = "2024-01-16"

    def tradeLine(id: Long, sym: String, ts: String, price: Double) =
      s"$id,$sym,$ts,$price"
    def parsed = spark.readStream.text(in)
      .select(split(col("value"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("event_id"),
        col("f").getItem(1).as("symbol"),
        col("f").getItem(2).cast("timestamp").as("timestamp"),
        col("f").getItem(3).cast("double").as("price"))
    def start() = EvolvingSink.run(parsed, out, ckpt, cutDay)

    // phase 1: pre-cut days only — gen-1 (daily) layout, then hard stop
    writeBatch(in, "b1.csv", Seq(
      tradeLine(1, "BTC", "2024-01-14 09:15:00", 10.0),
      tradeLine(2, "ETH", "2024-01-15 13:30:00", 11.0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(EvolvingSink.readUnified(spark, out).count() === 2)
    assert(!Files.exists(Paths.get(out, "g2")),
      "no gen-2 directory before the spec cut")

    // phase 2: restart; data now straddles the cut — one batch writes
    // BOTH layouts; offsets recovered, nothing lost, nothing doubled
    writeBatch(in, "b2.csv", Seq(
      tradeLine(3, "BTC", "2024-01-15 18:00:00", 12.0), // gen-1
      tradeLine(4, "BTC", "2024-01-16 08:00:00", 13.0), // gen-2
      tradeLine(5, "ETH", "2024-01-17 14:45:00", 14.0))) // gen-2
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val all = EvolvingSink.readUnified(spark, out)
    assert(all.count() === 5, "exactly-once across the restart")
    assert(all.select("event_id").distinct().count() === 5)
    // gen-2 carries hr as a PARTITION column (directory layout), gen-1
    // derives it row-side — the unified morning filter agrees with the
    // straight filter on the source rows
    val morning = all.filter(col("hr") < 12)
    assert(morning.select("event_id").as[Long].collect().toSet
      === Set(1L, 4L), "hr predicate correct across both specs")
    val g2Days = spark.read.parquet(s"$out/g2")
      .select("day").distinct().as[java.sql.Date].collect().map(_.toString)
    assert(g2Days.toSet === Set("2024-01-16", "2024-01-17"),
      "post-cut days live in the gen-2 layout only")

    // phase 3: direct double-replay of the last batch id — dynamic
    // overwrite of the bid partitions makes the rewrite a no-op
    val replay = parsed.sparkSession.read.text(s"$in/b2.csv")
      .select(split(col("value"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("event_id"),
        col("f").getItem(1).as("symbol"),
        col("f").getItem(2).cast("timestamp").as("timestamp"),
        col("f").getItem(3).cast("double").as("price"))
    EvolvingSink.applyBatch(replay, 1L, out, cutDay)
    EvolvingSink.applyBatch(replay, 1L, out, cutDay)
    assert(EvolvingSink.readUnified(spark, out).count() === 5,
      "replayed batch overwrote its own bid partitions — no dupes")

    // phase 4: restart with nothing new — no re-emission
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(EvolvingSink.readUnified(spark, out).count() === 5)
  }

  test("evolving file sink: legacy gen-1 store without the hr data " +
    "column still reads (hour(timestamp) fallback)") {
    import graft.streaming.EvolvingSink
    import spark.implicits._
    val out = tmpDir("graft-evo-legacy")
    // a gen-1 layout written by the pre-r13 sink: (bid, day) partition
    // dirs, NO hr column anywhere in the files
    Seq((1L, "BTC", java.sql.Timestamp.valueOf("2024-01-14 09:15:00"), 10.0),
        (2L, "ETH", java.sql.Timestamp.valueOf("2024-01-15 13:30:00"), 11.0))
      .toDF("event_id", "symbol", "timestamp", "price")
      .withColumn("day", to_date(col("timestamp")))
      .withColumn("bid", lit(0L))
      .write.mode("overwrite").partitionBy("bid", "day")
      .parquet(s"$out/g1")
    val legacy = EvolvingSink.readUnified(spark, out)
    assert(legacy.count() === 2, "legacy store readable without hr")
    assert(legacy.filter(col("hr") < 12).select("event_id").as[Long]
      .collect().toSet === Set(1L), "hr falls back to hour(timestamp)")
    // a mixed store — legacy gen-1 plus current gen-2 (hr present) —
    // unions across the missing column and keeps the written hr
    EvolvingSink.applyBatch(
      Seq((3L, "BTC", java.sql.Timestamp.valueOf("2024-01-16 08:00:00"),
        13.0)).toDF("event_id", "symbol", "timestamp", "price"),
      1L, out, "2024-01-16")
    val mixed = EvolvingSink.readUnified(spark, out)
    assert(mixed.count() === 3)
    assert(mixed.filter(col("hr") === 8).select("event_id").as[Long]
      .collect().toSet === Set(3L))
  }

  test("streaming gaps: last-seen state survives the restart (cross-kill " +
    "gap emitted once), upsert sink makes replays no-ops") {
    import graft.streaming.EventStream
    import spark.implicits._
    val in = tmpDir("graft-gap-in")
    val out = tmpDir("graft-gap-out")
    val ckpt = tmpDir("graft-gap-ckpt")

    def line(id: Long, et: String, offMs: Long) = s"$id,$et,${t0 + offMs}"
    def parsed = spark.readStream.text(in)
      .select(split(col("value"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("event_id"),
        lit(1L).as("user_id"), col("f").getItem(1).as("event_type"),
        timestamp_millis(col("f").getItem(2).cast("long")).as("ts"))
      .as[EventStream.UserEvent]
    def start() = EventStream.gapStream(spark, parsed).toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        Upsert.merge(df, id, out, Seq("event_type", "event_id"))
      }.start()

    // phase 1: a click burst and one view, then hard stop
    writeBatch(in, "b1.csv", Seq(
      line(1, "click", 0), line(2, "click", 200), line(3, "view", 0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(Upsert.read(spark, out).get.count() === 1) // only click 1→2

    // phase 2: restart; the first post-restart event must pair with the
    // last PRE-kill event through the recovered state store
    writeBatch(in, "b2.csv", Seq(
      line(4, "click", 60200), line(5, "view", 30000)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = Upsert.read(spark, out).get
    assert(rows.count() === 3, "exactly one gap row per successor event")
    val byId = rows.select("event_id", "gap_us").as[(Long, Long)]
      .collect().toMap
    // click 2→4: 60 s across the kill; view 3→5: 30 s across the kill
    assert(byId === Map(2L -> 200000L, 4L -> 60000000L, 5L -> 30000000L),
      s"cross-restart gaps must pair with pre-kill state: $byId")

    // phase 3: direct double-replay of the last emission through the
    // sink — keyed upsert makes it a no-op
    val replay = rows.filter(col("event_id") >= 4L)
    Upsert.merge(replay.toDF(), 99L, out, Seq("event_type", "event_id"))
    Upsert.merge(replay.toDF(), 99L, out, Seq("event_type", "event_id"))
    assert(Upsert.read(spark, out).get.count() === 3,
      "replayed batch upserted its own keys — no dupes")
  }

  test("vpin stream: volume clock and tick-rule sign survive the " +
    "restart (bar continues, not restarts), upsert replays no-op") {
    import graft.streaming.VpinStream
    import spark.implicits._
    val in = tmpDir("graft-vpin-in")
    val out = tmpDir("graft-vpin-out")
    val ckpt = tmpDir("graft-vpin-ckpt")

    def line(id: Long, offMs: Long, p: Double, v: Double) =
      s"$id,BTC,${t0 + offMs},$p,$v"
    def parsed = spark.readStream.text(in)
      .select(split(col("value"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("event_id"),
        col("f").getItem(1).as("symbol"),
        timestamp_millis(col("f").getItem(2).cast("long")).as("ts"),
        col("f").getItem(3).cast("double").as("price"),
        col("f").getItem(4).cast("double").as("volume"))
      .as[VpinStream.Trade]
    // clock = 5.0 volume units per bar (5e6 micros)
    def start() = VpinStream.barStream(spark, parsed,
        Map("BTC" -> 5000000L), default = 5000000L).toDF()
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        Upsert.merge(df, id, out, Seq("symbol", "bar"))
      }.start()

    // phase 1: 4 units traded — bar 0 is PARTIAL (uptick then downtick:
    // signed = +1.0 - 2.0 = -1.0 over 4.0 after the cold 1.0) — hard stop
    writeBatch(in, "b1.csv", Seq(
      line(1, 0, 10.00, 1.0), line(2, 1000, 10.05, 1.0),
      line(3, 2000, 9.95, 2.0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val p1 = Upsert.read(spark, out).get
      .select("bar", "n_ticks", "vol_micro", "imb_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(p1 === Set((0L, 3L, 4000000L, 250000L)),
      s"partial bar 0 snapshot before the kill: $p1")

    // phase 2: restart; 2 more units must CONTINUE bar 0 through the
    // recovered volume clock (4+2 = 6 > 5 → the 2.0 lands in bar 1),
    // and the tick rule must carry the pre-kill downtick sign across
    // the restart for the flat print
    writeBatch(in, "b2.csv", Seq(
      line(4, 3000, 9.95, 2.0))) // flat vs pre-kill last price → carries -1
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val p2 = Upsert.read(spark, out).get
      .select("bar", "n_ticks", "vol_micro", "imb_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    // bar 0 unchanged (trade 4's cumv = 6.0 → bar 1); bar 1 = the
    // carried -1 sign on 2.0 volume → |−2.0|/2.0 = full imbalance
    assert(p2 === Set((0L, 3L, 4000000L, 250000L),
      (1L, 1L, 2000000L, 1000000L)),
      s"cross-restart bar continuation + carried tick sign: $p2")

    // phase 3: replaying the converged rows through the sink is a no-op
    val replay = Upsert.read(spark, out).get
    Upsert.merge(replay, 99L, out, Seq("symbol", "bar"))
    Upsert.merge(replay, 99L, out, Seq("symbol", "bar"))
    assert(Upsert.read(spark, out).get.count() === 2,
      "replayed bars upserted their own keys — no dupes")
  }

  test("drawdown stream: running peak survives the restart (drawdown " +
    "continues from the recovered high, not from the restart price)") {
    import graft.streaming.DrawdownStream
    import spark.implicits._
    val in = tmpDir("graft-dd-in")
    val out = tmpDir("graft-dd-out")
    val ckpt = tmpDir("graft-dd-ckpt")

    def line(id: Long, offMs: Long, p: Double) =
      s"$id,BTC,${t0 + offMs},$p,1.0"
    def parsed = spark.readStream.text(in)
      .select(split(col("value"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("event_id"),
        col("f").getItem(1).as("symbol"),
        timestamp_millis(col("f").getItem(2).cast("long")).as("ts"),
        col("f").getItem(3).cast("double").as("price"),
        col("f").getItem(4).cast("double").as("volume"))
      .as[DrawdownStream.Trade]
    def start() = DrawdownStream.drawdownStream(spark, parsed).toDF()
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        Upsert.merge(df, id, out, Seq("symbol"))
      }.start()

    // phase 1: high of 12.00, small dip to 11.00 — hard stop
    writeBatch(in, "b1.csv", Seq(
      line(1, 0, 10.00), line(2, 1000, 12.00), line(3, 2000, 11.00)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val p1 = Upsert.read(spark, out).get
      .select("n_ticks", "max_dd_cents", "max_dd_frac")
      .as[(Long, Long, Double)].collect().toSet
    assert(p1 === Set((3L, 100L, 100.0 / 1200.0)),
      s"pre-kill snapshot: $p1")

    // phase 2: restart; a 9.00 print must measure against the
    // RECOVERED 12.00 peak (dd = 300 cents), not the post-restart
    // local high (which would give 200 from 11.00)
    writeBatch(in, "b2.csv", Seq(line(4, 3000, 9.00)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val p2 = Upsert.read(spark, out).get
      .select("n_ticks", "max_dd_cents", "max_dd_frac")
      .as[(Long, Long, Double)].collect().toSet
    assert(p2 === Set((4L, 300L, 300.0 / 1200.0)),
      s"cross-restart peak continuation: $p2")
  }

  test("depth stream: level map and tick-rule sign survive the restart " +
    "(post-restart flat print inherits the recovered carried sign)") {
    import graft.streaming.DepthStream
    import spark.implicits._
    val in = tmpDir("graft-depth-in")
    val out = tmpDir("graft-depth-out")
    val ckpt = tmpDir("graft-depth-ckpt")

    def line(id: Long, offMs: Long, p: Double, v: Double) =
      s"$id,BTC,${t0 + offMs},$p,$v"
    def parsed = spark.readStream.text(in)
      .select(split(col("value"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("event_id"),
        col("f").getItem(1).as("symbol"),
        timestamp_millis(col("f").getItem(2).cast("long")).as("ts"),
        col("f").getItem(3).cast("double").as("price"),
        col("f").getItem(4).cast("double").as("volume"))
      .as[DepthStream.Trade]
    def start() = DepthStream.depthStream(spark, parsed).toDF()
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        Upsert.merge(df, id, out, Seq("symbol", "pc"))
      }.start()

    // phase 1: neutral first print at 10.00, uptick to 10.05 — stop
    writeBatch(in, "b1.csv", Seq(
      line(1, 0, 10.00, 1.0), line(2, 1000, 10.05, 2.0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2: restart; a FLAT print back at 10.05 must (a) inherit
    // the recovered +1 carried sign (flat keeps the carry) and (b)
    // accumulate onto the RECOVERED level row, not start a fresh one
    writeBatch(in, "b2.csv", Seq(line(3, 2000, 10.05, 0.5)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = Upsert.read(spark, out).get
      .select("pc", "n_trades", "buy_vol_micro", "sell_vol_micro",
        "neutral_vol_micro")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(rows === Set(
      (1000L, 1L, 0L, 0L, 1000000L),
      (1005L, 2L, 2500000L, 0L, 0L)),
      s"cross-restart level continuation: $rows")
  }

  test("resample stream: previous-observation anchor survives the restart " +
    "(post-restart revision of an open bucket re-interpolates the gap " +
    "recovered from state) and the store converges to the batch grid") {
    import graft.streaming.ResampleStream
    import spark.implicits._
    val H = 3600000L
    val in = tmpDir("graft-resample-in")
    val out = tmpDir("graft-resample-out")
    val ckpt = tmpDir("graft-resample-ckpt")

    def line(id: Long, offMs: Long, p: Double) =
      s"$id,BTC,${t0 + offMs},$p,1.0"
    def parsed = spark.readStream.text(in)
      .select(split(col("value"), ",").as("f"))
      .select(col("f").getItem(0).cast("long").as("event_id"),
        col("f").getItem(1).as("symbol"),
        timestamp_millis(col("f").getItem(2).cast("long")).as("ts"),
        col("f").getItem(3).cast("double").as("price"),
        col("f").getItem(4).cast("double").as("volume"))
      .as[ResampleStream.Trade]
    def start() = ResampleStream.resampleStream(spark, parsed).toDF()
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        Upsert.merge(df, id, out, Seq("symbol", "bucket"))
      }.start()

    // phase 1: h0 observed, h2 opens at 12 — the h1 gap goes out
    // provisionally interpolated toward 12 — then STOP
    writeBatch(in, "b1.csv", Seq(line(1, 0, 10.0), line(2, 2 * H, 12.0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2: restart; a second h2 print at 14 must re-interpolate h1
    // from the RECOVERED (h0, 10.0) anchor — lost state would leave h1
    // at 11.0 and restart h2's count at 1 — then h4 closes the segment
    writeBatch(in, "b2.csv", Seq(line(3, 2 * H + 60000, 14.0),
      line(4, 4 * H, 20.0)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val batchIn = Seq(
      (1L, "BTC", new java.sql.Timestamp(t0), 10.0, 1.0),
      (2L, "BTC", new java.sql.Timestamp(t0 + 2 * H), 12.0, 1.0),
      (3L, "BTC", new java.sql.Timestamp(t0 + 2 * H + 60000), 14.0, 1.0),
      (4L, "BTC", new java.sql.Timestamp(t0 + 4 * H), 20.0, 1.0))
      .toDF("event_id", "symbol", "timestamp", "price", "volume")
    val batch = graft.ops.Resample.interpolateHourly(batchIn)
    val store = Upsert.read(spark, out).get
      .select("symbol", "bucket", "price_filled", "n_trades_ff")
    assert(store.except(batch).isEmpty && batch.except(store).isEmpty,
      "cross-restart converged grid must equal the batch table; got " +
        store.orderBy("bucket").collect().mkString(", "))
  }
}
