package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.ingest.Decode
import graft.ops.TradeOps

/** Top-level so Spark's Encoder codegen can instantiate it (a nested
  * case class forces interpreter-mode fallback). */
case class PropTrade(event_id: Long, symbol: String, timestamp: Timestamp,
    price: Double, volume: Double)

/** Property-based invariants (SURVEY.md §5.4) over randomized trade
  * batches: encode→decode identity, window multiplicity, cumulative-sum
  * monotonicity, min-max scale bounds. ScalaCheck drives the generators;
  * each property runs the full Spark plan on a local session.
  */
object PropertiesSpec extends Properties("graft") {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-props")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val t0 = 1700000000000L

  private val genTrades: Gen[List[PropTrade]] = for {
    n <- Gen.chooseNum(1, 60)
    syms <- Gen.listOfN(n, Gen.oneOf("BTC", "ETH", "SOL"))
    offs <- Gen.listOfN(n, Gen.chooseNum(0L, 300000L))
    prices <- Gen.listOfN(n, Gen.chooseNum(1, 100000).map(_ / 100.0))
    vols <- Gen.listOfN(n, Gen.chooseNum(1, 1000).map(_ / 10.0))
  } yield List.tabulate(n)(i =>
    PropTrade(i.toLong, syms(i), new Timestamp(t0 + offs(i)), prices(i), vols(i)))

  private def toDf(ts: List[PropTrade]) = {
    val s = spark
    import s.implicits._
    ts.toDF()
      .withColumn("usd_volume", col("price") * col("volume"))
      .withColumn("user_id", col("event_id") % 7)
  }

  property("encode->decode round-trips every trade") = Prop.forAll(genTrades) { ts =>
    val df = toDf(ts)
    val back = Decode.decodeFlatten(Decode.encodeEnvelopes(df))
    val orig = df.select("symbol", "timestamp", "price", "volume").collect().toSet
    val got = back.select("symbol", "timestamp", "price", "volume").collect().toSet
    orig == got
  }

  property("every event lands in exactly 3 sliding 30s/10s windows") =
    Prop.forAll(genTrades) { ts =>
      val df = toDf(ts)
      val windowed = df.select(window(col("timestamp"), "30 seconds", "10 seconds"))
      windowed.count() == 3L * ts.length
    }

  property("cumulative volume is per-symbol non-decreasing, ends at total") =
    Prop.forAll(genTrades) { ts =>
      val rows = TradeOps.cumulativeVolume(toDf(ts))
        .select("symbol", "timestamp", "event_id", "cumulative_volume")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1)
      rows.forall { case (sym, rs) =>
        val ordered = rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
        val monotone = ordered.zip(ordered.tail).forall { case (a, b) => b >= a - 1e-9 }
        val total = ts.filter(_.symbol == sym).map(_.volume).sum
        monotone && math.abs(ordered.last - total) < 1e-5
      }
    }

  property("per-symbol min-max scale maps into [0,1] and hits both ends") =
    Prop.forAll(genTrades) { ts =>
      val bySym = TradeOps.minMaxScale(toDf(ts))
        .select("symbol", "scaled").collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      bySym.forall { case (sym, scaled) =>
        val prices = ts.filter(_.symbol == sym).map(_.price)
        if (prices.distinct.size == 1) scaled.forall(_.isEmpty) // degenerate
        else {
          val vs = scaled.flatten
          vs.length == scaled.length &&
            vs.forall(v => v >= -1e-9 && v <= 1.0 + 1e-9) &&
            vs.min < 1e-9 && vs.max > 1.0 - 1e-9
        }
      }
    }

  private val genEvents: Gen[List[(Long, Long, Long, String)]] = for {
    n <- Gen.chooseNum(1, 80)
    users <- Gen.listOfN(n, Gen.chooseNum(0L, 5L))
    offs <- Gen.listOfN(n, Gen.chooseNum(0L, 100000L))
    types <- Gen.listOfN(n,
      Gen.oneOf("view", "click", "purchase", "signup", "error"))
  } yield List.tabulate(n)(i => (i.toLong, users(i), t0 + offs(i), types(i)))

  private def toEventsDf(evs: List[(Long, Long, Long, String)]) = {
    val s = spark
    import s.implicits._
    evs.map { case (id, u, t, ty) => (id, u, new Timestamp(t), ty) }
      .toDF("event_id", "user_id", "ts", "event_type")
  }

  // funnel: the windowed plan equals the min-fixpoint definition
  property("funnel matches the min-fixpoint reference") =
    Prop.forAll(genEvents) { evs =>
      val got = graft.ops.EventAnalytics.funnel(toEventsDf(evs)).collect()
        .map(r => r.getLong(0) -> ((
          Option(r.getTimestamp(1)).map(_.getTime),
          Option(r.getTimestamp(2)).map(_.getTime),
          Option(r.getTimestamp(3)).map(_.getTime), r.getInt(4)))).toMap
      val ref = evs.groupBy(_._2).map { case (u, es) =>
        val t1 = es.filter(_._4 == "view").map(_._3).minOption
        val t2 = t1.flatMap(a =>
          es.filter(e => e._4 == "click" && e._3 > a).map(_._3).minOption)
        val t3 = t2.flatMap(b =>
          es.filter(e => e._4 == "purchase" && e._3 > b).map(_._3).minOption)
        u -> ((t1, t2, t3, Seq(t1, t2, t3).count(_.isDefined)))
      }
      got == ref
    }

  // transition matrix: per-user ordered-pair counts, ties on event_id
  property("transitionMatrix matches the sorted-walk reference") =
    Prop.forAll(genEvents) { evs =>
      val got = graft.ops.EventAnalytics.transitionMatrix(toEventsDf(evs))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val ref = evs.groupBy(_._2).values.toSeq
        .flatMap { es =>
          val walk = es.sortBy(e => (e._3, e._1)).map(_._4)
          walk.zip(walk.drop(1))
        }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      got == ref
    }

  private def toTradesDf(ts: List[PropTrade]) = {
    val s = spark
    import s.implicits._
    ts.toDF().withColumn("user_id", col("event_id") % 7)
      .withColumn("usd_volume", col("price") * col("volume"))
  }

  // CDC apply: survivors are exactly the users whose LAST change (by the
  // total (ts, event_id) order) is not a tombstone, valued at that change
  property("cdcApply matches the sorted-replay reference") =
    Prop.forAll(genTrades) { ts =>
      val got = graft.ops.Incremental.cdcApply(toTradesDf(ts))
        .collect().map(r => r.getLong(0) ->
          ((r.getTimestamp(1).getTime, r.getDouble(2), r.getLong(3)))).toMap
      val ref = ts.groupBy(_.event_id % 7).flatMap { case (u, es) =>
        val last = es.maxBy(e => (e.timestamp.getTime, e.event_id))
        if (last.event_id % 10 == 0) None
        else Some(u -> ((last.timestamp.getTime, last.price, es.size.toLong)))
      }
      got == ref
    }

  // run-length encoding: rebuild runs by a straight scan of each
  // symbol's sorted cent series
  property("runLength matches the linear-scan reference") =
    Prop.forAll(genTrades) { ts =>
      val got = graft.ops.TradeOps.runLength(toTradesDf(ts), minLen = 1)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).toSet
      val ref = ts.groupBy(_.symbol).flatMap { case (sym, es) =>
        val sorted = es.sortBy(e => (e.timestamp.getTime, e.event_id))
        val cents = sorted.map(e => math.round(e.price * 100))
        val dirs = cents.zip(cents.drop(1)).map { case (a, b) =>
          if (b > a) "up" else if (b < a) "down" else "flat"
        }
        val withTs = dirs.zip(sorted.drop(1).map(_.timestamp.getTime))
        // group consecutive equal directions
        val runs = scala.collection.mutable.ListBuffer
          .empty[(String, Long, Long, Long)]
        for ((d, t) <- withTs) {
          runs.lastOption match {
            case Some((pd, len, st, _)) if pd == d =>
              runs.update(runs.length - 1, (d, len + 1, st, t))
            case _ => runs += ((d, 1L, t, t))
          }
        }
        runs.map { case (d, len, st, en) => (sym, d, len, st, en) }
      }.toSet
      got == ref
    }

  // the arithmetic ntile (rank → tile, no global sort) agrees with
  // Spark's own ntile window on every n
  property("ntileOfRank reproduces the ntile window") =
    Prop.forAll(Gen.chooseNum(1, 200)) { n =>
      val s = spark
      import s.implicits._
      val df = (1L to n.toLong).toDF("rank")
        .withColumn("n", lit(n.toLong))
      val tiles = graft.ops.Relational.ntileForTest(
          df, col("rank"), col("n"), 4)
        .withColumn("win_tile",
          ntile(4).over(org.apache.spark.sql.expressions.Window
            .orderBy("rank")).cast("long"))
      tiles.filter(col("tile") =!= col("win_tile")).count() == 0L
    }
}
