package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state (SURVEY.md §2.8 T13/T14) via
  * `flatMapGroupsWithState` — the stable stateful API (preferred over
  * `transformWithState` for portability, SURVEY.md §7.4).
  *
  * State is per-key and checkpointed by the state store, which *improves*
  * on the reference: the producer's cumulative-volume dict resets on
  * restart (`FinnhubProducer.py:20-22`), ours survives.
  */
object Stateful {

  case class TradeEvent(symbol: String, ts: java.sql.Timestamp,
      price: Double, volume: Double)

  case class CumRow(symbol: String, ts: java.sql.Timestamp,
      volume: Double, cumulative_volume: Double)

  /** T13 (reference `FinnhubProducer.py:34-36`): per-symbol running
    * cumulative volume. Within a micro-batch, events are ordered by
    * (ts) for determinism; across batches the running total lives in
    * `GroupState[Double]`. */
  def cumulativeVolume(spark: SparkSession, ds: Dataset[TradeEvent]): Dataset[CumRow] = {
    import spark.implicits._
    ds.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, events: Iterator[TradeEvent], state: GroupState[Double]) =>
          var total = state.getOption.getOrElse(0.0)
          val out = events.toSeq.sortBy(_.ts.getTime).map { e =>
            total += e.volume
            CumRow(symbol, e.ts, e.volume, total)
          }
          state.update(total)
          out.iterator
      }
  }

  /** One buffered feature row of the streaming lookback — the payload
    * element the reference consumer holds per buffered message
    * (`kafka.py:42-57` keeps the full feature rows, not an aggregate). */
  case class BufferedEvent(ts: java.sql.Timestamp, price: Double,
      volume: Double)

  case class LookbackRow(symbol: String, ts: java.sql.Timestamp,
      n: Int, avg_price: Double, matrix: Seq[BufferedEvent])

  /** T14 (reference `BtcPrediction/kafka.py:42-57`): fixed-length
    * sliding buffer — keep the last `n` rows per key, drop-oldest, and
    * emit only once the buffer is full (the consumer's `lookback=100`
    * gate before LSTM inference). Each emission carries the FULL
    * buffer, oldest first, as an `array<struct>` — the `(n, features)`
    * matrix the downstream model consumes ([[graft.ops.Predict]] is the
    * batch form of that consumer) — plus the running average for cheap
    * monitoring sinks. */
  def lookbackBuffer(spark: SparkSession, ds: Dataset[TradeEvent],
      n: Int = 100): Dataset[LookbackRow] = {
    import spark.implicits._
    ds.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, events: Iterator[TradeEvent],
            state: GroupState[List[BufferedEvent]]) =>
          var buf = state.getOption.getOrElse(List.empty[BufferedEvent])
          val out = events.toSeq.sortBy(_.ts.getTime).flatMap { e =>
            // drop-oldest (kafka.py:55-57)
            buf = (buf :+ BufferedEvent(e.ts, e.price, e.volume)).takeRight(n)
            if (buf.length == n)
              Some(LookbackRow(symbol, e.ts, n,
                buf.map(_.price).sum / n, buf))
            else None
          }
          state.update(buf)
          out.iterator
      }
  }

  /** One OHLC feature bar — the message the prediction consumer reads
    * off the features topic (reference `BtcPrediction/kafka.py:30-41`).
    * Field names match the matrix-struct fields
    * [[graft.ops.Predict.linearScorer]] scores. */
  case class BarEvent(symbol: String, ts: java.sql.Timestamp,
      close: Double, high: Double, low: Double,
      usd: Double, vol: Double, nt: Double)

  case class BarRow(close: Double, high: Double, low: Double,
      usd: Double, vol: Double, nt: Double)

  case class BarMatrix(symbol: String, ts: java.sql.Timestamp,
      matrix: Seq[BarRow])

  /** The prediction consumer's buffer over FEATURE BARS
    * (`kafka.py:42-57` buffers the decoded feature messages, not raw
    * trades): last `n` bars per symbol, drop-oldest, full-buffer
    * oldest-first emission once warm — the streaming form of
    * [[graft.ops.Predict.lookbackMatrix]]'s window. Emitted matrices
    * feed [[graft.ops.Predict.linearScorer]] directly (same struct
    * field names), which is how [[StreamingJob.runPredict]] composes the
    * T14 buffer with the K7 writeback. */
  def barLookback(spark: SparkSession, ds: Dataset[BarEvent],
      n: Int = 100): Dataset[BarMatrix] = {
    import spark.implicits._
    ds.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, events: Iterator[BarEvent],
            state: GroupState[List[BarEvent]]) =>
          var buf = state.getOption.getOrElse(List.empty[BarEvent])
          val out = events.toSeq.sortBy(_.ts.getTime).flatMap { e =>
            buf = (buf :+ e).takeRight(n)
            if (buf.length == n)
              Some(BarMatrix(symbol, e.ts,
                buf.map(b => BarRow(b.close, b.high, b.low, b.usd, b.vol, b.nt))))
            else None
          }
          state.update(buf)
          out.iterator
      }
  }

  case class CusumState(first: Long, c: Long, runMin: Long, runMax: Long)

  case class CusumRow(symbol: String, ts: java.sql.Timestamp,
      cusum_pos: Double, cusum_neg: Double, drifted: Boolean)

  /** Streaming form of [[graft.ops.TradeOps.cusum]]: the per-symbol
    * CUSUM state is FOUR Longs (first price, running sum of deviations,
    * its running min and max — all exact micro-unit integers), so the
    * stream carries the same exact arithmetic the batch windows
    * compute and the two forms agree to the BIT on ordered input
    * (spec'd in StreamingSpec). Bounded state per key, no buffer —
    * the monitoring shape that runs forever. */
  def cusumStream(spark: SparkSession, ds: Dataset[TradeEvent],
      h: Double = 500.0): Dataset[CusumRow] = {
    import spark.implicits._
    val hMicros = math.round(h * 1e6)
    ds.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, events: Iterator[TradeEvent],
            state: GroupState[CusumState]) =>
          var st = state.getOption.orNull
          val out = events.toSeq.sortBy(_.ts.getTime).map { e =>
            val pm = math.round(e.price * 1e6)
            st =
              if (st == null) CusumState(pm, 0L, 0L, 0L)
              else {
                val c = st.c + (pm - st.first)
                CusumState(st.first, c,
                  math.min(st.runMin, c), math.max(st.runMax, c))
              }
            CusumRow(symbol, e.ts,
              (st.c - st.runMin).toDouble / 1000000.0,
              (st.runMax - st.c).toDouble / 1000000.0,
              st.c - st.runMin > hMicros || st.runMax - st.c > hMicros)
          }
          state.update(st)
          out.iterator
      }
  }

  case class AnomState(buf: Seq[Long])

  case class AnomRow(symbol: String, ts: java.sql.Timestamp, price: Double)

  /** Streaming twin of [[graft.ops.TradeOps.anomalyFlags]]: the last
    * `n` cent prices ride in per-key state and the SAME all-integer
    * predicate `(n·x − Σx)² > k²·(n·Σx² − (Σx)²)` fires on each full
    * buffer — zero floats, so stream and batch flag the identical row
    * set by construction (spec'd). Emits only anomalous rows, the
    * alerting shape: output ∝ anomalies, state = n longs per key. */
  def anomalyStream(spark: SparkSession, ds: Dataset[TradeEvent],
      n: Int = 20, k: Int = 3): Dataset[AnomRow] = {
    import spark.implicits._
    ds.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, events: Iterator[TradeEvent],
            state: GroupState[AnomState]) =>
          var buf = state.getOption.map(_.buf.toVector)
            .getOrElse(Vector.empty[Long])
          val out = events.toSeq.sortBy(_.ts.getTime).flatMap { e =>
            val pc = math.round(e.price * 100)
            buf = (buf :+ pc).takeRight(n)
            if (buf.size == n) {
              val s1 = buf.sum
              val s2 = buf.map(x => x * x).sum
              val lhs = n * pc - s1
              if (lhs * lhs > k.toLong * k * (n * s2 - s1 * s1))
                Some(AnomRow(symbol, e.ts, e.price))
              else None
            } else None
          }
          state.update(AnomState(buf))
          out.iterator
      }
  }
}
