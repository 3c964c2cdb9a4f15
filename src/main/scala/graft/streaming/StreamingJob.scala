package graft.streaming

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.Decode
import graft.sinks.Upsert

/** The reference's analytical core as one Structured Streaming DAG
  * (`scripts/StreamProcessing/ProcessStockStream.py:91-196`): a shared
  * decode plan fanned out into four concurrent queries, each with its
  * own trigger, output mode, and checkpoint — SURVEY.md §2.8 T1-T12.
  *
  * | query | reference | here |
  * |---|---|---|
  * | q1 volume agg  | 1-min tumbling, 30s watermark, update → Cassandra | update → [[Upsert]] keyed table |
  * | q2 passthrough | raw rows, update (≡append) → Cassandra            | update → [[Upsert]] keyed table |
  * | q3 features    | 30s/10s sliding, 10s watermark, append → Kafka    | append → key/value JSON csv (kafka-shaped) |
  * | q4 file sink   | features + date parts, partitioned CSV, 5min     | partitioned CSV, 0s trigger like q1 |
  *
  * Kafka/Cassandra jars aren't in this offline image; the seams are the
  * standard `writeStream.format(...)` / `foreachBatch` boundaries, so
  * the real connectors drop in unchanged (SURVEY.md §7).
  */
object StreamingJob {

  final case class Config(outRoot: String, checkpointRoot: String)

  /** Every trigger commits checkpoint files: an offsets and a commit log
    * entry and a state delta per partition, each written to a temp file
    * and renamed into place. Spark's default manager renames through
    * `FileContext`, whose local file system forks a `readlink` per
    * rename when Hadoop finds no native library; on a local root, commit
    * through `FileSystem.rename` instead, a plain `rename(2)`. Both keep
    * Hadoop's `.crc` sidecars and Spark's state checksums, and both
    * refuse to overwrite unless the caller allows it. Where it is
    * allowed (a re-run batch committing its state again), Hadoop's
    * rename keeps the committed file, which holds the same state, and
    * [[LocalCheckpointFileManager]] deletes the temp file. Other roots
    * keep Spark's default, which relies on `FileContext`'s atomic
    * rename. */
  private def useLocalCheckpointRenames(spark: SparkSession, cfg: Config): Unit =
    if (new Path(cfg.checkpointRoot).getFileSystem(spark.sessionState.newHadoopConf())
        .isInstanceOf[LocalFileSystem])
      spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        classOf[LocalCheckpointFileManager].getName)

  /** Runs `start` with Spark's codegen factory off, then gives the
    * session back its own setting. Every trigger plans a fresh
    * incremental job whose generated classes differ from the last
    * batch's in literals (batch ids, watermark bounds, stage ids), so
    * Spark's codegen cache keeps missing and each batch pays Janino
    * compiles that cost more than its few thousand rows save. A query
    * clones the session in `start()`, so its micro-batches,
    * `foreachBatch` included, run interpreted, while the caller's
    * session keeps codegen. `NO_CODEGEN` also turns whole-stage codegen
    * off; `wholeStage=false` alone still compiles projections and
    * joiners. The setting is on the caller's session while `start` runs:
    * call `run` only while no other thread uses that session. */
  private def interpreted[T](spark: SparkSession)(start: => T): T = {
    val key = "spark.sql.codegen.factoryMode"
    val before = spark.conf.getAll.get(key)
    spark.conf.set(key, "NO_CODEGEN")
    try start
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Pipeline observability via `Dataset.observe`: per-micro-batch
    * ingest metrics (row count, exact cent volume, max event time)
    * computed INSIDE the running plan — accumulator-backed, so they
    * cost no extra pass, no extra action, and no sampling, and surface
    * on every `QueryProgressEvent.observedMetrics` for a
    * StreamingQueryListener to ship to monitoring. This is the
    * always-on freshness/volume telemetry a production ingest needs
    * (watermark lag = wall clock − max_ts; silent-drop detection = rows
    * vs producer counts) — pulled from the stream itself rather than a
    * parallel counting job. Works identically on batch reads (metrics
    * arrive via QueryExecutionListener). */
  def withIngestMetrics(flat: DataFrame, name: String = "ingest"): DataFrame =
    flat.observe(name,
      count(lit(1)).as("rows"),
      sum(expr("CAST(round(usd_volume * 100) AS BIGINT)"))
        .as("usd_vol_cents"),
      max(col("timestamp")).as("max_ts"))

  /** Start all four queries; caller awaits/stops them. Their
    * micro-batches run interpreted (see `interpreted`), so no other
    * thread may use `spark` while this runs. */
  def run(spark: SparkSession, envelopes: DataFrame, cfg: Config): Seq[StreamingQuery] = {
    useLocalCheckpointRenames(spark, cfg)
    // decode + derive, the shared upstream plan (`ProcessStockStream.py:100-109`)
    val flat = Decode.decodeFlatten(envelopes)
    // Both keyed stores get one bucket per shuffle partition: a merge
    // writes one file per touched bucket, and at these batch sizes its
    // cost is per file, so the stores match the width the stateful
    // operators and the merge shuffle already use. The count is pinned
    // in each store's manifest at creation; restarts under another
    // width keep the stored key→bucket mapping.
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // query_01 (`ProcessStockStream.py:112-129`): tumbling volume, update
    // mode re-emits revised windows; upsert keyed on (symbol, timestamp)
    // absorbs the re-emission idempotently.
    val volume = flat
      .withWatermark("timestamp", "30 seconds")
      .groupBy(window(col("timestamp"), "1 minute"), col("symbol"))
      .agg(sum(col("volume")).as("total_volume"),
        sum(col("usd_volume")).as("total_usd_volume"))
      .select(col("symbol"), col("window.start").as("timestamp"),
        col("total_volume"), col("total_usd_volume"))
    val q1 = volume.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_01")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        Upsert.merge(df, id, s"${cfg.outRoot}/volume_tracking",
          Seq("symbol", "timestamp"), nBuckets = buckets, bucketBy = Seq("symbol"))
      }
      .queryName("volume_tracking")

    // query_02 (`ProcessStockStream.py:132-138`): raw passthrough.
    val q2 = flat
      .select("symbol", "timestamp", "cumulative_volume", "price")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_02")
      .foreachBatch { (df: DataFrame, id: Long) =>
        Upsert.merge(df, id, s"${cfg.outRoot}/price_tracking",
          Seq("symbol", "timestamp"), nBuckets = buckets, bucketBy = Seq("symbol"))
      }
      .queryName("price_tracking")

    // query_03 (`ProcessStockStream.py:143-179`): sliding OHLC features,
    // append mode ⇒ each window emitted exactly once, after the 10s
    // watermark passes its end; serialized as (key, value-JSON) — the
    // Kafka message shape (FIXTURES.md §3).
    val features = flat
      .withWatermark("timestamp", "10 seconds")
      .groupBy(window(col("timestamp"), "30 seconds", "10 seconds"), col("symbol"))
      .agg(
        sum(col("usd_volume")).as("total_usd_volume"),
        sum(col("volume")).as("total_btc_volume"),
        last(col("price")).as("close"), // reference-faithful arrival-order close (:149)
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        count(col("price")).as("num_trades"))
      .select(col("symbol"), col("window.start").as("timestamp"),
        col("total_usd_volume"), col("total_btc_volume"),
        col("close"), col("high"), col("low"), col("num_trades"))
    val q3 = features
      .selectExpr("symbol AS key",
        """to_json(named_struct(
          |  'timestamp', CAST(timestamp AS STRING), 'close', close,
          |  'high', high, 'low', low, 'num_trades', num_trades,
          |  'total_btc_volume', total_btc_volume,
          |  'total_usd_volume', total_usd_volume)) AS value""".stripMargin)
      .writeStream
      .outputMode("append")
      .format("csv")
      .option("path", s"${cfg.outRoot}/btc_features")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_03")
      .queryName("btc_features")

    // query_04 (`ProcessStockStream.py:181-191`): features + date-part
    // partition columns → partitioned CSV. The reference fires it every
    // 5 minutes; here it runs on the same 0 s trigger as q1.
    val q4 = features
      .withColumn("year", year(col("timestamp")))
      .withColumn("month", month(col("timestamp")))
      .withColumn("day", dayofmonth(col("timestamp")))
      .withColumn("hour", hour(col("timestamp")))
      .writeStream
      .outputMode("append")
      .format("csv")
      .partitionBy("year", "month", "day")
      .option("path", s"${cfg.outRoot}/features_store")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_04")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .queryName("features_store")

    interpreted(spark)(Seq(q1, q2, q3, q4).map(_.start()))
  }

  /** T16 (extension) — streaming exact dedup: at-least-once transports
    * re-deliver, and a re-delivered row counted twice poisons every
    * downstream agg. `dropDuplicatesWithinWatermark` keeps ONE
    * state-store entry per key seen within the watermark horizon and
    * evicts it once the watermark passes — state is bounded by
    * horizon × arrival rate, where a plain `dropDuplicates` on a stream
    * accretes keys forever.
    * Re-deliveries farther apart than the horizon pass through: that is
    * the contract's honest limit, and the horizon is chosen to cover
    * the transport's redelivery window, not the data's lifetime. */
  def dedupWithinWatermark(events: DataFrame,
      keyCols: Seq[String], tsCol: String = "timestamp",
      horizon: String = "30 seconds"): DataFrame =
    events.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** query_05 — the prediction vertical as a streaming consumer of the
    * FEATURES stream, composing T14 → §2.9 scoring → K7 writeback
    * exactly the way the reference splits it across processes
    * (`BtcPrediction/kafka.py:42-57` buffers feature messages;
    * `predict_btc.py:64-91` scores the buffer with the fitted scaler and
    * upserts the prediction at t+10s):
    *
    *   [[Stateful.barLookback]] (last-n full-buffer emit per symbol)
    *     → [[graft.ops.Predict.linearScorer]] over the emitted matrix
    *     → inverse-scale via the broadcast fitted stats (stream-static
    *       join — the scaler is fitted OFFLINE, like the reference's
    *       pickled MinMaxScaler)
    *     → [[Upsert.merge]] keyed (symbol, timestamp).
    *
    * `bars` is a streaming DataFrame of feature-bar rows (in production
    * the Kafka features topic query_03 writes; in tests a MemoryStream)
    * with columns (symbol, timestamp, close, high, low,
    * total_usd_volume, total_btc_volume, num_trades). Batch/stream
    * agreement with [[graft.ops.Predict.predictNext]] on the same bars
    * is spec'd in StreamingSpec. */
  def runPredict(spark: SparkSession, bars: DataFrame, stats: DataFrame,
      cfg: Config, n: Int = graft.ops.Predict.lookbackN): StreamingQuery = {
    import spark.implicits._
    useLocalCheckpointRenames(spark, cfg)
    val ds = bars.select(col("symbol"), col("timestamp").as("ts"),
        col("close"), col("high"), col("low"),
        col("total_usd_volume").as("usd"),
        col("total_btc_volume").as("vol"),
        col("num_trades").cast("double").as("nt"))
      .as[Stateful.BarEvent]
    Stateful.barLookback(spark, ds, n).toDF()
      .join(broadcast(stats), "symbol")
      .withColumn("score", graft.ops.Predict.linearScorer(n))
      .select(col("symbol"),
        (col("ts") + expr("INTERVAL 10 SECONDS")).as("timestamp"),
        (col("mn_close") + col("score") * (col("mx_close") - col("mn_close")))
          .as("predicted_close"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_05")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        Upsert.merge(df, id, s"${cfg.outRoot}/predictions",
          Seq("symbol", "timestamp"), bucketBy = Seq("symbol"))
      }
      .queryName("predictions").start()
  }
}
