package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-technique operators: the patterns that keep the reference's
  * workload viable at 100 TB (SURVEY.md §4, §7.5) — sessionization
  * (T15, the one windowing mode the reference leaves unused), two-phase
  * salted aggregation for skewed keys, and bucketed co-located joins
  * that eliminate the join shuffle entirely.
  */
object Scale {

  /** T15: event sessionization with a gap timeout. `session_window`
    * is the streaming-native form (state-store backed, watermark
    * evictable); in batch it compiles to a single partial/final
    * session-merge aggregation — no self-join, no windowed scan.
    * Session end = last event + gap (Spark semantics). */
  def sessionize(trades: DataFrame, gap: String = "5 minutes"): DataFrame =
    trades
      .groupBy(session_window(col("timestamp"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        TradeOps.exactSum(col("usd_volume")).as("session_usd"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_usd"))

  /** Skew-safe aggregation: the `symbol` key space is tiny (5 values
    * over the whole table — the worst case for a hash agg at scale,
    * every row funnels to ≤5 reducers). Salting splits each hot key
    * across `salts` reducers in a first shuffle, then a second, trivial
    * shuffle merges the partials. Results are bit-identical to the
    * direct groupBy for sum/count/min/max (associative merges).
    *
    * (Spark's partial aggregation already map-side combines, so on
    * local[32] this is a wash — the pattern matters when partial
    * aggregation is defeated, e.g. high-cardinality compound keys or
    * collect-type aggregates; it is exposed here as a first-class,
    * oracle-checked operator.) */
  def saltedVolumeBySymbol(trades: DataFrame, salts: Int = 16): DataFrame =
    trades
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy(col("symbol"), col("salt"))
      .agg(sum(col("volume").cast("decimal(18,6)")).as("v"), count(lit(1)).as("n"),
        min(col("price")).as("mn"), max(col("price")).as("mx"))
      .groupBy("symbol")
      .agg(graft.Num.decD(sum(col("v"))).as("total_volume"),
        sum(col("n")).as("n_trades"),
        min(col("mn")).as("min_price"),
        max(col("mx")).as("max_price"))

  /** Skew-safe REPLICATE-AND-SALT join — what a hot-key fact⋈dim join
    * needs when the dim is too big to broadcast and a plain shuffle
    * join would funnel every hot-key row through one reducer (here the
    * worst case on purpose: `symbol` has ~5 values, so an unsalted
    * shuffle join is ≤5 active tasks no matter the cluster size). The
    * fact side salts each row into one of `salts` sub-keys; the dim
    * side is REPLICATED `salts`× via a codegen'd explode — dim×salts
    * rows, the deliberate price of spreading each hot key over `salts`
    * reducers. The `shuffle_hash` hint pins the demonstrated plan
    * (local[32] would otherwise broadcast the small dim and hide the
    * skew entirely; at 100 TB with a 100 GB dim there is no broadcast
    * to hide behind — salting is the only lever, since AQE's skew
    * split handles sort-merge stragglers but still cannot split one
    * key's hash bucket across reducers).
    *
    * The dim is derived from the fact itself (per-symbol floor price —
    * deterministic, self-contained); the post-join per-symbol
    * aggregate folds the salt back out, and the result is
    * bit-identical to the unsalted join the oracle runs: salting is a
    * physical rewrite, invisible in the algebra. */
  def saltedSkewJoin(trades: DataFrame, salts: Int = 16): DataFrame = {
    val dim = trades.groupBy("symbol")
      .agg(min(col("price")).as("floor_price"))
    val replicated = dim.withColumn("salt",
      explode(array((0 until salts).map(lit): _*)))
    val fact = trades.withColumn("salt",
      pmod(col("event_id"), lit(salts)).cast("int"))
    fact.join(replicated.hint("shuffle_hash"), Seq("symbol", "salt"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_trades"),
        TradeOps.exactSum(col("price") - col("floor_price"))
          .as("sum_over_floor"))
  }

  /** Oracle for [[saltedSkewJoin]] (body only — caller prepends the
    * trades CTE): the plain unsalted join-aggregate. */
  val saltedSkewJoinSql: String =
    """dim AS (
      |  SELECT symbol, min(price) AS floor_price FROM trades GROUP BY 1
      |)
      |SELECT t.symbol, count(*) AS n_trades,
      |       CAST(CAST(sum(CAST(t.price - d.floor_price AS DECIMAL(18,6)))
      |            * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_over_floor
      |FROM trades t JOIN dim d ON t.symbol = d.symbol
      |GROUP BY t.symbol""".stripMargin

  /** Morton (Z-order) key over two dimensions — bit-interleave the low
    * 16 bits of each, so lexicographic order on the key is a space-
    * filling curve over (a, b). Pure integer shifts/masks: 32
    * constant-folded codegen'd terms, reproduced verbatim by the oracle. */
  private[ops] def zkeyCol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      (shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Z-order data layout + 2-D pruned read-back — the multi-dimensional
    * clustering technique for 100 TB serving tables (SURVEY.md §4
    * "sink-side index"): a table range-partitioned and sorted by a
    * single dimension prunes only on that dimension; laid out along the
    * Morton curve of (user, minute), parquet row-group min/max stats
    * stay tight on BOTH dimensions, so a query boxed in either (or both)
    * skips most of the file bytes. The write is one range shuffle on
    * zkey + an in-partition sort — exactly the cost of a single-column
    * layout; the 2-D selectivity is free after that.
    *
    * Returns the rows of a (user-range × time-range) box read back from
    * the laid-out files, zkey attached, for oracle comparison. */
  def zorderRoundTrip(spark: SparkSession, trades: DataFrame,
      uLo: Int = 20, uHi: Int = 60,
      tLo: String = "2024-01-05 00:00:00",
      tHi: String = "2024-01-15 00:00:00"): DataFrame = {
    val out = graft.Tables.scratchDir(spark, "zorder")
    val n = spark.sessionState.conf.numShufflePartitions
    val keyed = trades.select(col("event_id"), col("user_id"),
        col("timestamp"), col("price"))
      .withColumn("minute_bucket",
        expr("CAST(unix_timestamp(timestamp) div 60 AS BIGINT) % 65536"))
      .withColumn("zkey",
        zkeyCol(pmod(col("user_id"), lit(65536L)), col("minute_bucket")))
    keyed.repartitionByRange(n, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .filter(col("user_id").between(uLo, uHi) &&
        col("timestamp") >= lit(tLo).cast("timestamp") &&
        col("timestamp") < lit(tHi).cast("timestamp"))
      .select("event_id", "user_id", "timestamp", "price", "zkey")
  }

  /** Oracle for [[zorderRoundTrip]]: the same interleave arithmetic and
    * box filter, straight over the source rows (the layout round-trip
    * must be content-preserving). */
  def zorderSql(uLo: Int = 20, uHi: Int = 60,
      tLo: String = "2024-01-05 00:00:00",
      tHi: String = "2024-01-15 00:00:00"): String = {
    val terms = (0 until 16).map { i =>
      s"(((u >> $i) & 1) * ${1L << (2 * i)} + ((mb >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")
    s"""k AS (
       |  SELECT event_id, user_id, "timestamp", price,
       |         user_id % 65536 AS u,
       |         CAST(floor(epoch("timestamp")) AS BIGINT) // 60 % 65536 AS mb
       |  FROM trades
       |)
       |SELECT event_id, user_id, "timestamp", price,
       |       CAST($terms AS BIGINT) AS zkey
       |FROM k
       |WHERE user_id BETWEEN $uLo AND $uHi
       |  AND "timestamp" >= TIMESTAMP '$tLo'
       |  AND "timestamp" < TIMESTAMP '$tHi'""".stripMargin
  }

  /** Bucketed co-located join: persist both sides bucketed + sorted on
    * the join key, then join — the exchange disappears from the plan
    * (`SortMergeJoin` over `FileScan ... SelectedBucketsCount`), which
    * at 100 TB is the difference between a full-cluster shuffle and a
    * map-side merge. Buckets are the batch analog of the reference's
    * Cassandra `PRIMARY KEY (symbol, timestamp)` layout (SURVEY.md §4
    * "sink-side index").
    *
    * Writes external bucketed tables to a scratch dir; idempotent per
    * (session, sfDir) via overwrite. */
  def bucketedOrderRevenue(spark: SparkSession, dir: String,
      buckets: Int = 8): DataFrame = {
    // Tag is per (session, sfDir): the applicationId keeps concurrent
    // sessions from racing on the same bucket dirs/table names, and the
    // sanitized dir disambiguates scale factors within a session (a raw
    // dir.hashCode collides across dirs and can be negative).
    val tag = (spark.sparkContext.applicationId + "_" + dir)
      .replaceAll("[^A-Za-z0-9]", "_")
    val root = graft.Tables.scratchDir(spark,
      "buckets_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    def persistBucketed(df: DataFrame, table: String, key: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // pre-partition on the bucket key: each write task then holds
      // exactly one bucket -> one file per bucket (not tasks x buckets
      // fragments), which is what the read-side SMJ wants to scan
      df.repartition(buckets, col(key))
        .write.mode("overwrite")
        .option("path", s"$root/$table")
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(table)
    }
    persistBucketed(
      graft.Tables.load(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      s"graft_orders_b$tag", "o_custkey")
    persistBucketed(
      graft.Tables.load(spark, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey"),
      s"graft_customer_b$tag", "c_custkey")
    val o = spark.table(s"graft_orders_b$tag")
    val c = spark.table(s"graft_customer_b$tag")
    // merge hint: model the big-big case this layout exists for (at test
    // scale AQE would broadcast the small side, hiding the property
    // under test — the SMJ plan here has NO Exchange on either side).
    c.hint("merge").join(o, col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"),
        (TradeOps.exactSum(col("o_totalprice"))).as("revenue"))
  }
}
