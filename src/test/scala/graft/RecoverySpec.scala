package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.Decode
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

  test("a kill between WAL and commit: the restart re-runs the batch, " +
      "every sink stays exactly-once") {
    val in = tmpDir("graft-wal-in")
    val out = tmpDir("graft-wal-out")
    val ckpt = tmpDir("graft-wal-ckpt")
    def startAll() = StreamingJob.run(spark,
      spark.readStream.text(in).select(col("value")),
      StreamingJob.Config(out, ckpt))

    writeBatch(in, "b1.json", Seq(
      envelope("BTC", t0, 10.0, 1.0, 1.0),
      envelope("BTC", t0 + 5000, 12.0, 2.0, 3.0),
      envelope("ETH", t0 + 20000, 11.0, 4.0, 4.0),
      envelope("ETH", t0 + 45000, 11.5, 1.0, 5.0)))
    val first = startAll()
    try {
      first.foreach(_.processAllAvailable())
      // a trade behind the newest event time moves no watermark, so the
      // newest batch of every query is a data batch
      writeBatch(in, "b1b.json", Seq(envelope("ETH", t0 + 44000, 11.2, 2.0, 7.0)))
      first.foreach(_.processAllAvailable())
    } finally first.foreach(_.stop())

    // what a kill after the offsets WAL is written leaves: each query's
    // newest batch is in its offsets log and missing from its commit log
    val names = Seq("query_01", "query_02", "query_03", "query_04")
    val lost = names.map { q =>
      val commits = Paths.get(ckpt, q, "commits")
      val n = Files.list(commits).iterator.asScala.map(_.getFileName.toString)
        .filter(_.matches("\\d+")).map(_.toLong).max
      assert(Files.exists(Paths.get(ckpt, q, "offsets", n.toString)), s"$q: batch $n has no WAL entry")
      Files.delete(commits.resolve(n.toString))
      Files.deleteIfExists(commits.resolve(s".$n.crc"))
      n
    }

    // the re-run commits q1's state version again, onto the deltas the
    // first run committed
    def deltas() = Files.walk(Paths.get(ckpt, "query_01", "state")).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".delta")).toSet
    val committed = deltas()

    // more input while the job is down; the last trade pushes every
    // watermark past the earlier windows
    writeBatch(in, "b2.json", Seq(
      envelope("BTC", t0 + 61000, 20.0, 6.0, 9.0),
      envelope("ETH", t0 + 120000, 13.0, 8.0, 12.0),
      envelope("BTC", t0 + 600000, 15.0, 1.0, 10.0)))
    val second = startAll()
    try second.foreach(_.processAllAvailable()) finally second.foreach(_.stop())
    second.zip(names).zip(lost).foreach { case ((q, name), n) =>
      assert(q.recentProgress.head.batchId === n, s"$name: the restart re-runs batch $n first")
    }

    assert(committed.nonEmpty && committed.subsetOf(deltas()), "a committed state delta went missing")
    val temps = Files.walk(Paths.get(ckpt)).iterator.asScala
      .filter(_.getFileName.toString.matches(""".*\.tmp(\.crc)?""")).toSeq
    assert(temps.isEmpty, s"${temps.size} temp files left: ${temps.mkString(", ")}")

    val trades = Decode.decodeFlatten(spark.read.text(in)).cache()
    val price = Upsert.read(spark, s"$out/price_tracking").get
    assert(price.count() === 8, "every trade exactly once in the price sink")
    assert(price.select("symbol", "timestamp", "price").collect().toSet ===
      trades.select("symbol", "timestamp", "price").collect().toSet)

    val vol = Upsert.read(spark, s"$out/volume_tracking").get
    assert(vol.groupBy("symbol", "timestamp").count()
      .filter(col("count") > 1).count() === 0, "no duplicate upsert keys")
    val minutes = trades.groupBy(window(col("timestamp"), "1 minute"), col("symbol"))
      .agg(sum(col("volume")).as("total_volume"))
      .select(col("symbol"), col("window.start").as("timestamp"), col("total_volume"))
    assert(vol.select("symbol", "timestamp", "total_volume").collect().toSet ===
      minutes.collect().toSet, "volume windows equal the batch recompute")

    val features = spark.read.schema("key STRING, value STRING").csv(s"$out/btc_features")
      .select(col("key"), from_json(col("value"),
        lit("timestamp STRING, num_trades BIGINT, total_btc_volume DOUBLE")).as("v"))
      .select(col("key"), col("v.timestamp").as("timestamp"),
        col("v.num_trades").as("num_trades"), col("v.total_btc_volume").as("vol"))
    assert(features.count() > 0, "the watermark closed no feature window")
    assert(features.groupBy("key", "timestamp").count()
      .filter(col("count") > 1).count() === 0, "each feature window emitted once")
    val sliding = trades.groupBy(window(col("timestamp"), "30 seconds", "10 seconds"), col("symbol"))
      .agg(count(lit(1)).as("num_trades"), sum(col("volume")).as("vol"))
      .select(col("symbol").as("key"), col("window.start").cast("string").as("timestamp"),
        col("num_trades"), col("vol"))
      .collect().toSet
    val emitted = features.collect().toSet
    assert(emitted.subsetOf(sliding), s"windows off the recompute: ${emitted -- sliding}")
    trades.unpersist()
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
}
