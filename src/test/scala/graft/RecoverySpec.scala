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
}
