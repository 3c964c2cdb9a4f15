package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance — the aggregation pattern
  * that makes a 100 TB rollup affordable: keep per-batch PARTIAL
  * aggregate states (mergeable: count, sum, min, max), and on each new
  * batch merge the new partial into the stored states instead of
  * rescanning history. The merge input is one row per (group × batch)
  * — group-cardinality-sized, not corpus-sized — so refreshing the view
  * costs O(new batch + view), never O(all data ever).
  *
  * Only MERGEABLE measures qualify: count/sum/min/max merge losslessly
  * from partials; exact `count(DISTINCT …)` does not (its partial state
  * is the key set itself) — that slot is what the
  * [[Relational.hllMergeDistinct]] sketch union is for. Doubles are
  * summed as exact micro-unit BIGINTs ([[TradeOps]] picounit
  * discipline) so partial-merge order can never change the result —
  * which is also what makes the full-recompute oracle hash-match.
  *
  * The reference's closest seam: its dashboard aggregates are recomputed
  * per streaming micro-batch (ProcessStockStream.py:112-196); this is
  * the batch-tier generalization a warehouse sitting next to that
  * stream needs.
  */
object Incremental {

  val nBatches: Int = 3

  /** Per-batch partial aggregate state for the (event_type, day) view —
    * the delta a single ingest increment would persist. Batch membership
    * is simulated deterministically as `event_id % nBatches` (arrival
    * order is immaterial: merge is commutative). Each partial is
    * `localCheckpoint`ed — the stored-state seam: the merge below reads
    * materialized state, not a re-derivation from raw events.
    *
    * Release exemption: these checkpoints are never unpersisted. They
    * are GROUP-cardinality-sized (event_type × day — hundreds of rows at
    * any corpus scale, the whole point of partial-state MV maintenance),
    * so pinning them costs little, and every one of them backs the
    * returned view, so none can be unpersisted before the caller
    * consumes the result. */
  private[ops] def partialStates(events: DataFrame): DataFrame =
    // r17 (guide §1.2 / §2.4): all nBatches partials in ONE scan — the
    // batch id is just another grouping key of the same aggregate, so
    // the per-batch filter+scan+checkpoint trio (nBatches full passes
    // over events, one job barrier each) collapses to one pass and one
    // checkpointed state table holding exactly the same per-batch rows.
    // The stored-state seam is unchanged: the merge below still reads
    // MATERIALIZED partial state keyed by batch, never raw events.
    events
      .groupBy(pmod(col("event_id"), lit(nBatches)).as("_batch"),
        col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("v_micro"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"))
      .localCheckpoint()

  /** The refreshed view: merge all stored partials. Equal by
    * construction to a full recompute over every event — which is
    * exactly what the oracle does. */
  def incrementalAgg(events: DataFrame): DataFrame =
    partialStates(events)
      .groupBy("event_type", "day")
      .agg(
        sum(col("n")).as("n_events"),
        sum(col("v_micro")).as("sum_value_micro"),
        min(col("v_min")).as("min_value"),
        max(col("v_max")).as("max_value"))
      // DATE materializes as un-hashable python objects on the compare
      // path; midnight TIMESTAMP carries the same value typed
      .withColumn("day", col("day").cast("timestamp"))

  /** The mergeable-DISTINCT slot [[incrementalAgg]] deliberately leaves
    * open: per-batch HLL sketch states (fixed-size register arrays,
    * `localCheckpoint`ed like the other partials) merged register-wise
    * with `hll_union_agg` — distinct users per event type maintained
    * incrementally without ever rescanning history or keeping raw key
    * sets. Checked against an exact recompute with an accuracy-envelope
    * flag, the [[Relational.hllMergeDistinct]] discipline (default
    * lgK=12 → rsd ≈ 1.6%; flag at 5%): if sketching, storage, or merge
    * broke, the flag flips and the oracle hash breaks. */
  def incrementalDistinct(events: DataFrame): DataFrame = {
    // release exemption: fixed-size sketch rows (one per batch ×
    // event_type), all backing the returned frame — see [[partialStates]]
    // r17: all per-batch sketch states in one scan (batch id as a
    // grouping key — partialStates discipline); sketch contents depend
    // only on which rows feed them, so the stored states are identical.
    val partials = events
      .groupBy(pmod(col("event_id"), lit(nBatches)).as("_batch"),
        col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .localCheckpoint()
    val merged = partials
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .join(broadcast(merged), "event_type")
      .select(col("event_type"), col("n_users"),
        (abs(col("est") - col("n_users")) <= col("n_users") * 0.05)
          .cast("int").as("within_5pct"))
  }

  /** Oracle for [[incrementalDistinct]]: exact distinct counts, and the
    * envelope flag pinned to 1. */
  val incrementalDistinctSql: String =
    """SELECT event_type,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       1 AS within_5pct
      |FROM events
      |GROUP BY 1""".stripMargin

  /** Oracle: the view recomputed flat from raw events — if partial
    * maintenance dropped or double-counted a batch, any group's count
    * or exact micro-unit sum breaks the hash. */
  val incrementalAggSql: String =
    """SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
      |         AS sum_value_micro,
      |       min(value) AS min_value, max(value) AS max_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** Incremental JOIN-view maintenance — the delta-join (bilinearity)
    * identity every incremental engine (DBSP/Materialize/Delta live
    * tables) rests on:
    *
    *   V((A ∪ ΔA) ⋈ (B ∪ ΔB)) = V(A⋈B) + V(ΔA⋈B) + V(A⋈ΔB) + V(ΔA⋈ΔB)
    *
    * so refreshing a JOIN view after both sides receive new rows costs
    * three delta joins — each bounded by a delta's size times join
    * fan-out — plus a group-sized merge, never a re-join of the full
    * fact history. Deltas are simulated deterministically (`o_orderkey %
    * nBatches == 0` is the new-orders batch, `c_custkey % 10 == 0` the
    * new-customers batch); measures are the mergeable tier (count +
    * exact cent sums) so partial-merge order cannot change the result.
    * The customer side is broadcast here (dim-sized); at 100 TB with a
    * non-broadcastable build side the same four terms run as shuffle
    * joins on `o_custkey` — the identity, not the join strategy, is the
    * operator. Oracle: flat join-agg over the full tables. */
  def incrementalJoinAgg(orders: DataFrame, customer: DataFrame): DataFrame = {
    val newOrd = pmod(col("o_orderkey"), lit(nBatches)) === 0
    val newCust = pmod(col("c_custkey"), lit(10)) === 0
    // release exemption: (term × segment × month)-sized partials, all
    // backing the returned view — see [[partialStates]].
    // r17 (partialStates discipline): the four delta terms partition the
    // full A×B join by the (ΔA?, ΔB?) membership flags, so ONE join +
    // one aggregate keyed additionally by those two flags produces the
    // identical four partial-state groups — 1 scan of orders instead of
    // 4, one checkpointed state table instead of four. The delta-join
    // identity is unchanged: the stored state still holds each term's
    // rows separately (keyed by the flags) and the merge still reads
    // only materialized state.
    val terms = orders
      .join(broadcast(customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(newOrd.as("_d_orders"), newCust.as("_d_cust"),
        col("c_mktsegment").as("segment"),
        date_trunc("month", col("o_orderdate")).cast("timestamp").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("revenue_cents"))
      .localCheckpoint()
    terms
      .groupBy("segment", "month")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("revenue_cents")).as("revenue_cents"))
  }

  /** Oracle for [[incrementalJoinAgg]]: the view recomputed flat from
    * the full join — if any of the four delta terms dropped or
    * double-counted rows, some group's count or cent sum breaks. */
  val incrementalJoinAggSql: String =
    """SELECT c_mktsegment AS segment,
      |       date_trunc('month', o_orderdate) AS month,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** Deletions are simulated as a CDC retraction batch covering every
    * event with `event_id % RetractMod == 0`. */
  val RetractMod: Int = 7

  /** Retraction-capable view maintenance (the signed-multiplicity /
    * Z-set discipline of incremental view maintenance): each change
    * row carries `sign` = +1 (insert) or −1 (delete), partial states
    * aggregate `sum(sign)` and `sum(sign·measure)`, and merging is the
    * same commutative sum — so a delete is just another delta batch,
    * never a rescan of history. Only LINEAR measures survive deletion
    * (count, sum); min/max are not invertible under retraction — that's
    * precisely why [[incrementalAgg]] keeps them in the insert-only
    * tier. Groups whose net multiplicity reaches zero leave the view.
    *
    * The oracle recomputes flat over the surviving rows: if a
    * retraction under- or over-cancelled anywhere, some group's count
    * or exact micro-unit sum breaks the hash. */
  def incrementalRetract(events: DataFrame): DataFrame = {
    // release exemption: group-sized signed partials, all backing the
    // returned view — see [[partialStates]].
    // r17 (partialStates discipline): one scan emits every signed
    // contribution — each row lands in its insert batch with sign +1,
    // and a retracted row ADDITIONALLY lands in the retraction batch
    // (id nBatches) with sign −1 via a 1-or-2-element explode — then one
    // aggregate keyed by batch id produces the identical per-batch
    // signed partial states; previously nBatches+1 full passes.
    val partials = events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vm"),
        explode(when(pmod(col("event_id"), lit(RetractMod)) === 0,
            array(
              struct(pmod(col("event_id"), lit(nBatches)).cast("int").as("b"),
                lit(1L).as("sign")),
              struct(lit(nBatches).cast("int").as("b"),
                lit(-1L).as("sign"))))
          .otherwise(array(
            struct(pmod(col("event_id"), lit(nBatches)).cast("int").as("b"),
              lit(1L).as("sign"))))).as("c"))
      .groupBy(col("c.b").as("_batch"), col("event_type"), col("day"))
      .agg(sum(col("c.sign")).as("n"),
        sum(col("c.sign") * col("vm")).as("v_micro"))
      .localCheckpoint()
    partials
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n_events"),
        sum(col("v_micro")).as("sum_value_micro"))
      .filter(col("n_events") > 0)
      .withColumn("day", col("day").cast("timestamp"))
  }

  /** Oracle for [[incrementalRetract]]: flat recompute over rows that
    * were never retracted. */
  val incrementalRetractSql: String =
    s"""SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
       |       count(*) AS n_events,
       |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
       |         AS sum_value_micro
       |FROM events
       |WHERE event_id % $RetractMod <> 0
       |GROUP BY 1, 2""".stripMargin

  /** K12 (extension) — CDC apply: collapse an upsert/delete changefeed
    * into the final snapshot, the "apply the Debezium topic to the
    * table" step every CDC ingestion ends with. The feed is derived
    * deterministically from the trade stream (every 10th event is a
    * tombstone, the rest are upserts), keyed by `user_id`, sequenced by
    * the total (timestamp, event_id) order.
    *
    * Shape: ONE map-side-combinable aggregate — `max_by` over the
    * composite sequence struct picks each key's last change, partials
    * merge associatively, so a 100-TB feed reduces without the
    * per-key-window sort-the-world plan the oracle runs (row_number
    * DESC, rn=1). Tombstone keys drop AFTER the reduce: a 'D' only
    * wins if it is genuinely the last operation for its key. */
  def cdcApply(trades: DataFrame): DataFrame =
    trades
      .withColumn("op",
        when(col("event_id") % 10 === 0, lit("D")).otherwise(lit("U")))
      .groupBy("user_id")
      .agg(
        max_by(struct(col("timestamp"), col("price"), col("op")),
          struct(col("timestamp"), col("event_id"))).as("last"),
        count(lit(1)).as("n_changes"))
      .filter(col("last.op") =!= "D")
      .select(col("user_id"), col("last.timestamp").as("last_ts"),
        col("last.price").as("last_price"), col("n_changes"))

  /** Oracle for [[cdcApply]] (body only — caller prepends the trades
    * CTE): the windowed latest-row form. */
  val cdcApplySql: String =
    """feed AS (
      |  SELECT user_id, "timestamp" AS ts, event_id, price,
      |         CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op
      |  FROM trades
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |           ORDER BY ts DESC, event_id DESC) AS rn,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM feed
      |)
      |SELECT user_id, ts AS last_ts, price AS last_price,
      |       CAST(n AS BIGINT) AS n_changes
      |FROM ranked WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** Net-multiplicity auxiliary state shared by [[retractableMinMax]]
    * and [[retractableTopK]] — the standard answer (Flink's retractable
    * aggregates, DBSP's indexed Z-sets) to the measure classes
    * [[incrementalRetract]] documents as NON-invertible: min/max and
    * top-k can't subtract a delete from a scalar state, so the state
    * keeps the full VALUE MULTISET per group as (group, value) → net
    * multiplicity. A delete is then still just a signed delta batch
    * (refresh cost O(|delta|)), and any deletion — including of the
    * current min/max/top-k holder — is recoverable because the runner-up
    * values are in state. State size is O(groups × distinct values),
    * not O(rows ever ingested): value-cardinality-sized, the accepted
    * cost of retractable extremes in every production incremental
    * engine. Values are keyed by exact micro-unit BIGINT so multiset
    * identity can never straddle a double ulp.
    *
    * Release exemption: partials are (group × distinct-value)-sized and
    * all back the returned view — see [[partialStates]]. */
  private def netValueMultiplicity(events: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    // r17 (partialStates discipline, see [[incrementalRetract]]): one
    // scan, signed contributions exploded into their batches, one
    // aggregate keyed by batch id — the identical per-batch multiset
    // partials, one checkpointed state table, instead of nBatches+1
    // full passes over events.
    val partials = events
      .withColumn("day", to_date(col("ts")))
      .withColumn("v_micro", expr("CAST(round(value * 1000000) AS BIGINT)"))
      .select(groupCols.map(col) :+ col("v_micro") :+
        explode(when(pmod(col("event_id"), lit(RetractMod)) === 0,
            array(
              struct(pmod(col("event_id"), lit(nBatches)).cast("int").as("b"),
                lit(1L).as("sign")),
              struct(lit(nBatches).cast("int").as("b"),
                lit(-1L).as("sign"))))
          .otherwise(array(
            struct(pmod(col("event_id"), lit(nBatches)).cast("int").as("b"),
              lit(1L).as("sign"))))).as("c"): _*)
      .groupBy(col("c.b").as("_batch") +: groupCols.map(col) :+
        col("v_micro"): _*)
      .agg(sum(col("c.sign")).as("mult"))
      .localCheckpoint()
    partials
      .groupBy(groupCols.map(col) :+ col("v_micro"): _*)
      .agg(sum(col("mult")).as("mult"))
      .filter(col("mult") > 0)
  }

  /** Retraction-capable MIN/MAX view maintenance over the multiset
    * state: the view is a value-cardinality-sized aggregate over
    * surviving (net multiplicity > 0) values, so deleting the current
    * extreme simply promotes the next surviving value — no history
    * rescan. Oracle: flat min/max recompute over never-retracted rows;
    * if the multiset under- or over-cancelled any value anywhere, some
    * group's extreme or surviving-value count breaks the hash. */
  def retractableMinMax(events: DataFrame): DataFrame =
    netValueMultiplicity(events, Seq("event_type", "day"))
      .groupBy("event_type", "day")
      .agg(
        min(col("v_micro")).as("min_value_micro"),
        max(col("v_micro")).as("max_value_micro"),
        count(lit(1)).as("n_live_values"),
        sum(col("mult")).as("n_live_rows"))
      .withColumn("day", col("day").cast("timestamp"))

  /** Oracle for [[retractableMinMax]]. */
  val retractableMinMaxSql: String =
    s"""SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
       |       min(CAST(round(value * 1000000) AS BIGINT)) AS min_value_micro,
       |       max(CAST(round(value * 1000000) AS BIGINT)) AS max_value_micro,
       |       CAST(count(DISTINCT CAST(round(value * 1000000) AS BIGINT))
       |            AS BIGINT) AS n_live_values,
       |       count(*) AS n_live_rows
       |FROM events
       |WHERE event_id % $RetractMod <> 0
       |GROUP BY 1, 2""".stripMargin

  /** Retraction-capable MEDIAN view maintenance — the HOLISTIC
    * aggregate that proves the Z-set multiset state carries more than
    * extremes: the lower median (selected element, no interpolation —
    * the engine-portable choice) of the live value multiset per
    * (event_type, day). A delete anywhere reshuffles the cumulative
    * multiplicities and the view re-selects exactly; no sketch, no
    * rescan of history. Selection: smallest v with cumulative
    * multiplicity ≥ ⌈n/2⌉, computed by one value-ordered window over
    * the (group × distinct values) state — value-cardinality-sized,
    * never row-sized. Integer-exact throughout (micro values, integer
    * ceil-half), so both engines select the identical element. */
  def retractableMedian(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ms = netValueMultiplicity(events, Seq("event_type", "day"))
    val byVal = Window.partitionBy("event_type", "day").orderBy("v_micro")
    val grp = Window.partitionBy("event_type", "day")
    ms.withColumn("cum", sum(col("mult")).over(byVal))
      .withColumn("n", sum(col("mult")).over(grp))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("event_type", "day")
      .agg(min(col("v_micro")).as("median_value_micro"),
        max(col("n")).as("n_live_rows"))
      .withColumn("day", col("day").cast("timestamp"))
  }

  /** Oracle for [[retractableMedian]]: the same live multiset and the
    * same cumulative-multiplicity selection. */
  val retractableMedianSql: String =
    s"""WITH ms AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(round(value * 1000000) AS BIGINT) AS v_micro,
       |         CAST(count(*) AS BIGINT) AS mult
       |  FROM events WHERE event_id % $RetractMod <> 0
       |  GROUP BY 1, 2, 3
       |), c AS (
       |  SELECT *,
       |         sum(mult) OVER (PARTITION BY event_type, day
       |           ORDER BY v_micro ROWS UNBOUNDED PRECEDING) AS cum,
       |         sum(mult) OVER (PARTITION BY event_type, day) AS n
       |  FROM ms
       |)
       |SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       |       min(v_micro) AS median_value_micro,
       |       CAST(max(n) AS BIGINT) AS n_live_rows
       |FROM c WHERE cum >= (n + 1) // 2
       |GROUP BY 1, 2""".stripMargin

  /** How many ranked values the top-k view emits per group. */
  val TopK: Int = 3

  /** Retraction-capable TOP-K view maintenance (Flink's
    * RetractableTopN discipline): rank the surviving value multiset per
    * group and emit the top [[TopK]] values with their live
    * multiplicities. Because the state holds every surviving value —
    * not just the current top k — a delete that evicts a top-k member
    * promotes the next value exactly; the bounded-candidate shortcut
    * (keep only k' > k per batch) is deliberately NOT taken, since an
    * adversarial delete stream invalidates any fixed k'. The rank sort
    * runs over the value-cardinality-sized state, never the corpus.
    * Values are distinct within a group by construction, so
    * `row_number` over (value DESC) is deterministic without a
    * tiebreak. */
  def retractableTopK(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("v_micro").desc)
    netValueMultiplicity(events, Seq("event_type"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("event_type"), col("rank").cast("long").as("rank"),
        col("v_micro").as("value_micro"), col("mult").as("n_live_rows"))
  }

  /** Oracle for [[retractableTopK]]: surviving multiset recomputed
    * flat, ranked, top k. */
  val retractableTopKSql: String =
    s"""WITH surviving AS (
       |  SELECT event_type,
       |         CAST(round(value * 1000000) AS BIGINT) AS value_micro,
       |         count(*) AS n_live_rows
       |  FROM events
       |  WHERE event_id % $RetractMod <> 0
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type
       |             ORDER BY value_micro DESC) AS rank
       |  FROM surviving
       |)
       |SELECT event_type, CAST(rank AS BIGINT) AS rank, value_micro,
       |       n_live_rows
       |FROM ranked WHERE rank <= $TopK""".stripMargin
}
