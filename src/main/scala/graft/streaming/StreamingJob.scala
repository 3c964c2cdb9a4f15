package graft.streaming

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
  * | q4 file sink   | features + date parts, partitioned CSV, 5min     | partitioned CSV, configurable trigger |
  *
  * Kafka/Cassandra jars aren't in this offline image; the seams are the
  * standard `writeStream.format(...)` / `foreachBatch` boundaries, so
  * the real connectors drop in unchanged (SURVEY.md §7).
  */
object StreamingJob {

  final case class Config(
      outRoot: String,
      checkpointRoot: String,
      fileTrigger: Trigger = Trigger.ProcessingTime("0 seconds"))

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

  /** Start all four queries; caller awaits/stops them. */
  def run(spark: SparkSession, envelopes: DataFrame, cfg: Config): Seq[StreamingQuery] = {
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
      .queryName("volume_tracking").start()

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
      .queryName("price_tracking").start()

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
      .queryName("btc_features").start()

    // query_04 (`ProcessStockStream.py:181-191`): features + date-part
    // partition columns → partitioned CSV on a slow trigger.
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
      .trigger(cfg.fileTrigger)
      .queryName("features_store").start()

    Seq(q1, q2, q3, q4)
  }

  /** T16 (extension) — streaming exact dedup: at-least-once transports
    * re-deliver, and the batch-tier [[graft.ops.Dedup.exactDedup]] has
    * to have a streaming twin or re-deliveries poison every downstream
    * agg. `dropDuplicatesWithinWatermark` keeps ONE state-store entry
    * per key seen within the watermark horizon and evicts it once the
    * watermark passes — state is bounded by horizon × arrival rate,
    * where a plain `dropDuplicates` on a stream accretes keys forever.
    * Re-deliveries farther apart than the horizon pass through: that is
    * the contract's honest limit, and the horizon is chosen to cover
    * the transport's redelivery window, not the data's lifetime. */
  def dedupWithinWatermark(events: DataFrame,
      keyCols: Seq[String], tsCol: String = "timestamp",
      horizon: String = "30 seconds"): DataFrame =
    events.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** query_06 (extension) — the incremental-MV tier's streaming twin:
    * [[graft.ops.Incremental.incrementalAgg]] maintained continuously by
    * a `foreachBatch` merge sink instead of simulated batch splits. Each
    * micro-batch contributes its PARTIAL aggregate state (count / exact
    * micro-unit sum / min / max — the mergeable tier), which merges into
    * the stored view keyed `(event_type, day)` via [[Upsert.merge]]:
    * per batch the cost is O(micro-batch + affected groups), never a
    * rescan of history — the property that keeps a 100 TB rollup
    * continuously fresh. `events` is a streaming DataFrame with at least
    * (event_type, ts, value). Batch/stream equality is spec'd in
    * StreamingSpec. */
  def runIncrementalAgg(spark: SparkSession, events: DataFrame,
      cfg: Config): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_06")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        mergeIncrementalAgg(df, id, s"${cfg.outRoot}/mv_event_daily")
      }
      .queryName("mv_event_daily").start()

  /** One micro-batch of incremental view maintenance: aggregate the
    * batch to its partial state, merge register-wise with the CURRENT
    * values of only the affected groups (semi-join — untouched groups
    * are never read), and upsert the merged rows back. Exactly the
    * foreachBatch seam a Delta/Iceberg `MERGE INTO` target drops into.
    *
    * Replay safety: Structured Streaming re-runs a batch after a crash,
    * and an additive merge is NOT naturally idempotent (re-merging
    * double-counts), so the last applied batch id is recorded IN the
    * store's manifest ([[Upsert.lastAppliedBatch]]) and replays of it
    * are skipped. Because the id rides the same atomic `_CURRENT`
    * pointer flip that commits the data, there is no crash window where
    * the data is committed but the marker is not (the transactional
    * commit a Delta txn log provides, scaled down to this store). */
  def mergeIncrementalAgg(batch: DataFrame, batchId: Long,
      root: String): Unit = {
    val spark = batch.sparkSession
    if (Upsert.lastAppliedBatch(root).exists(_ >= batchId)) return
    val keys = Seq("event_type", "day")
    val partial = batch
      .groupBy(col("event_type"),
        to_date(col("ts")).cast("timestamp").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 1000000) AS BIGINT)"))
          .as("sum_value_micro"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    val cols = keys ++ Seq("n_events", "sum_value_micro",
      "min_value", "max_value")
    val merged = Upsert.read(spark, root) match {
      case None => partial
      case Some(state) =>
        // current values of the groups this batch touches — only those
        // buckets get rewritten; the rest of the view is carried forward
        // by manifest reference inside Upsert.merge
        state.select(cols.map(col): _*)
          .join(partial.select(keys.map(col): _*), keys, "left_semi")
          .unionByName(partial)
          .groupBy(keys.map(col): _*)
          .agg(sum(col("n_events")).as("n_events"),
            sum(col("sum_value_micro")).as("sum_value_micro"),
            min(col("min_value")).as("min_value"),
            max(col("max_value")).as("max_value"))
    }
    if (!merged.isEmpty)
      Upsert.merge(merged, batchId, root, keys,
        appliedBatchId = Some(batchId))
  }

  /** query_07 (extension) — CDC apply as a stream: the batch-tier
    * [[graft.ops.Incremental.cdcApply]] ("collapse the Debezium topic
    * into the final snapshot") maintained continuously. Each micro-batch
    * of change rows (user_id, timestamp, event_id, price, op∈{U,D}) is
    * reduced to its last change per key with the same map-side-combinable
    * `max_by` the batch operator uses, then merged into the keyed store —
    * upserts last-writer-wins, deletes as TOMBSTONES ([[Upsert.merge]]
    * `tombstoneCol`): a key whose latest change is a delete leaves the
    * table, and a later re-insert brings it back. Cross-batch ordering is
    * the store's generation order (arrival order), within-batch ordering
    * the (timestamp, event_id) total order — for an in-order feed this
    * equals the batch fixpoint, spec'd in StreamingSpec. Replay-safe
    * with no marker: re-reducing and re-merging the same batch writes
    * the same winners and the same absences (CDC apply is naturally
    * idempotent), unlike the additive [[mergeIncrementalAgg]]. */
  def runCdcApply(spark: SparkSession, changes: DataFrame,
      cfg: Config): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_07")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        applyCdcBatch(df, id, s"${cfg.outRoot}/cdc_state")
      }
      .queryName("cdc_apply").start()

  /** One micro-batch of CDC apply: per-key last change, then a
    * tombstone-aware keyed merge. */
  def applyCdcBatch(batch: DataFrame, batchId: Long, root: String): Unit = {
    val reduced = batch
      .groupBy("user_id")
      .agg(max_by(struct(col("timestamp"), col("price"), col("op")),
        struct(col("timestamp"), col("event_id"))).as("last"))
      .select(col("user_id"),
        col("last.timestamp").as("last_ts"),
        col("last.price").as("last_price"),
        (col("last.op") === "D").as("_tomb"))
    Upsert.merge(reduced, batchId, root, Seq("user_id"),
      tombstoneCol = Some("_tomb"))
  }

  /** query_08 (extension) — INCREMENTAL CROSS-CORPUS DEDUP as a stream:
    * the "continuously ingest a training corpus" loop an LLM data
    * pipeline actually runs, the streaming twin of the delta-shaped
    * batch operator [[graft.ops.Dedup.crossDedup]]. Each micro-batch of
    * document rows (doc_id, text, …) is screened against the corpus
    * ingested SO FAR plus the batch's own earlier arrivals
    * ([[graft.ops.Dedup.screenBatch]]), its dup flags appended to a
    * keyed store, and its signatures merged into the corpus signature
    * store — so the expensive signature computation runs exactly once
    * per document, ever, and per-batch cost scales with the batch, not
    * the corpus. Cross-batch "earlier" is store arrival order,
    * within-batch order is `doc_id` — for an in-order feed the
    * accumulated flags equal the batch [[graft.ops.Dedup.crossDedup]]
    * over the same documents (spec'd in StreamingSpec), the same
    * batch-equivalence contract as query_06/query_07. Replay-safe with
    * no marker: [[graft.ops.Dedup.screenBatch]] anti-joins the batch's
    * own ids out of the corpus side, so re-running a batch after ANY
    * crash point recomputes identical rows into idempotent merges. */
  def runIncrementalDedup(spark: SparkSession, docs: DataFrame,
      cfg: Config): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_08")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        applyDedupBatch(df, id, s"${cfg.outRoot}/dedup")
      }
      .queryName("incremental_dedup").start()

  /** One micro-batch of incremental dedup: signatures once, screen
    * against the store, append flags, merge signatures. The signature
    * table is persisted for the batch's duration — it is read twice
    * (screen + store merge) and each read would otherwise recompute the
    * word explosion. */
  def applyDedupBatch(batch: DataFrame, batchId: Long, root: String,
      threshold: Double = graft.ops.Dedup.resolveThreshold): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val sig = graft.ops.Dedup.signaturesOf(batch).persist()
    try {
      val corpus = Upsert.read(spark, s"$root/signatures")
      val flags = graft.ops.Dedup.screenBatch(sig, corpus, threshold)
      Upsert.merge(flags, batchId, s"$root/flags", Seq("doc_id"))
      // signatures merge LAST: a crash before this point replays into
      // an unchanged corpus store (same flags); after it, screenBatch's
      // anti-join hides the batch from itself (same flags again)
      Upsert.merge(sig, batchId, s"$root/signatures", Seq("doc_id"))
    } finally sig.unpersist()
  }

  /** query_09 (extension) — RETRACTABLE MIN/MAX view maintenance as a
    * stream, the twin of [[graft.ops.Incremental.retractableMinMax]]:
    * the change feed carries signed rows (`sign` = +1 insert / −1
    * delete) and the store holds the net-multiplicity VALUE MULTISET
    * keyed (event_type, day, v_micro) — the Z-set state that makes the
    * non-invertible extremes recoverable under deletion (deleting the
    * current min promotes the next surviving value; no history rescan).
    * Per micro-batch: reduce the batch to its signed partial, merge
    * additively with only the AFFECTED (group, value) rows (semi-join,
    * the [[mergeIncrementalAgg]] discipline), and tombstone keys whose
    * net multiplicity reaches exactly zero — a Z-set zero IS absence,
    * so dropping the row keeps state minimal without breaking
    * commutativity (a fully-cancelled value re-inserted later starts
    * cleanly from +1). Negative multiplicities (a delete racing ahead
    * of its insert in the feed) stay IN the store so the late insert
    * still sums to the right net — the view filters `mult > 0` instead
    * of trusting the store to contain only live rows. Replay safety:
    * the additive merge is not idempotent, so the applied-batch id
    * rides the store's atomic `_CURRENT` flip
    * ([[Upsert.lastAppliedBatch]]), the [[mergeIncrementalAgg]]
    * contract. Batch-equivalence to `retractableMinMax` over the same
    * change rows and replay idempotence are spec'd in StreamingSpec. */
  def runRetractableMinMax(spark: SparkSession, changes: DataFrame,
      cfg: Config): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_09")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        applyRetractBatch(df, id, s"${cfg.outRoot}/minmax_state")
      }
      .queryName("mv_minmax_retract").start()

  /** One micro-batch of net-multiplicity maintenance. `batch` columns:
    * event_type, ts, value, sign. */
  def applyRetractBatch(batch: DataFrame, batchId: Long,
      root: String): Unit = {
    if (Upsert.lastAppliedBatch(root).exists(_ >= batchId)) return
    val partial = batch
      .groupBy(col("event_type"),
        to_date(col("ts")).cast("timestamp").as("day"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v_micro"))
      .agg(sum(col("sign")).as("mult"))
    mergeZsetPartial(partial, batchId, root,
      Seq("event_type", "day", "v_micro"))
  }

  /** The shared micro-batch Z-set step: fold a signed partial
    * (keys…, mult) additively into the keyed net-multiplicity store —
    * only the AFFECTED keys are read back (semi-join), exact zeros
    * leave as tombstones, negatives stay (see [[runRetractableMinMax]]
    * for why), and the applied-batch id rides the store's atomic
    * `_CURRENT` flip. [[applyRetractBatch]] and
    * [[applyRetractTopKBatch]] differ only in their grouping keys. */
  private def mergeZsetPartial(partial: DataFrame, batchId: Long,
      root: String, keys: Seq[String]): Unit = {
    val spark = partial.sparkSession
    val merged = Upsert.read(spark, root) match {
      case None => partial
      case Some(state) =>
        state.select((keys :+ "mult").map(col): _*)
          .join(partial.select(keys.map(col): _*), keys, "left_semi")
          .unionByName(partial)
          .groupBy(keys.map(col): _*)
          .agg(sum(col("mult")).as("mult"))
    }
    val withTomb = merged.withColumn("_tomb", col("mult") === 0)
    if (!withTomb.isEmpty)
      Upsert.merge(withTomb, batchId, root, keys,
        tombstoneCol = Some("_tomb"), appliedBatchId = Some(batchId))
  }

  /** query_10 (extension) — RETRACTABLE TOP-K view maintenance as a
    * stream, the twin of [[graft.ops.Incremental.retractableTopK]] and
    * the completion of the Z-set pattern query_09 started: the same
    * signed change feed, the same additive multiset merge
    * ([[mergeZsetPartial]]), but keyed (event_type, v_micro) — and the
    * RANKING lives in the view, not the state. That split is the whole
    * design: because the store keeps EVERY surviving value (not just
    * the current top k), a delete that evicts a top-k member is just
    * another signed delta — the next read of [[retractTopKView]]
    * promotes the runner-up exactly, with no bounded-candidate k'
    * heuristic to invalidate (Flink's RetractableTopN discipline). The
    * per-batch cost is O(batch + affected values); the rank sort runs
    * over value-cardinality-sized state at read time, never the
    * corpus. Batch-equivalence (including a forced eviction of the
    * reigning max) and replay idempotence are spec'd in
    * StreamingSpec. */
  def runRetractableTopK(spark: SparkSession, changes: DataFrame,
      cfg: Config): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/query_10")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        applyRetractTopKBatch(df, id, s"${cfg.outRoot}/topk_state")
      }
      .queryName("mv_topk_retract").start()

  /** One micro-batch of per-type value-multiset maintenance. `batch`
    * columns: event_type, ts, value, sign (ts unused — the top-k view
    * is day-less, matching the batch operator). */
  def applyRetractTopKBatch(batch: DataFrame, batchId: Long,
      root: String): Unit = {
    if (Upsert.lastAppliedBatch(root).exists(_ >= batchId)) return
    val partial = batch
      .groupBy(col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v_micro"))
      .agg(sum(col("sign")).as("mult"))
    mergeZsetPartial(partial, batchId, root, Seq("event_type", "v_micro"))
  }

  /** The refreshed top-k view over the per-type multiset store —
    * column-identical to [[graft.ops.Incremental.retractableTopK]]. */
  def retractTopKView(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("v_micro").desc)
    Upsert.read(spark, root).getOrElse(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("v_micro",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("mult",
              org.apache.spark.sql.types.LongType)))))
      .filter(col("mult") > 0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= graft.ops.Incremental.TopK)
      .select(col("event_type"), col("rank").cast("long").as("rank"),
        col("v_micro").as("value_micro"), col("mult").as("n_live_rows"))
  }

  /** The refreshed view over the multiset store — column-identical to
    * the batch [[graft.ops.Incremental.retractableMinMax]]. */
  def retractMinMaxView(spark: SparkSession, root: String): DataFrame =
    Upsert.read(spark, root).getOrElse(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("day",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("v_micro",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("mult",
              org.apache.spark.sql.types.LongType)))))
      .filter(col("mult") > 0)
      .groupBy("event_type", "day")
      .agg(
        min(col("v_micro")).as("min_value_micro"),
        max(col("v_micro")).as("max_value_micro"),
        count(lit(1)).as("n_live_values"),
        sum(col("mult")).as("n_live_rows"))

  /** Retractable MEDIAN view over the SAME query_09 multiset store —
    * the holistic-aggregate payoff of keeping full net multiplicities:
    * no new state, no new stream; the lower median re-selects exactly
    * under any delete. Column-identical to the batch
    * [[graft.ops.Incremental.retractableMedian]]. */
  def retractMedianView(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val live = Upsert.read(spark, root).getOrElse(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("day",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("v_micro",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("mult",
              org.apache.spark.sql.types.LongType)))))
      .filter(col("mult") > 0)
    val byVal = Window.partitionBy("event_type", "day").orderBy("v_micro")
    val grp = Window.partitionBy("event_type", "day")
    live.withColumn("cum", sum(col("mult")).over(byVal))
      .withColumn("n", sum(col("mult")).over(grp))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("event_type", "day")
      .agg(min(col("v_micro")).as("median_value_micro"),
        max(col("n")).as("n_live_rows"))
  }

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
