package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write–Audit–Publish (extension) — the transactional publishing
  * pattern every production table write should follow: write the batch
  * to an UNREFERENCED staging location, audit it there (row count, key
  * nullability, key uniqueness), and only then atomically repoint the
  * "current" pointer at it. Readers always follow the pointer, so they
  * see either the old version or the fully-audited new one — never a
  * half-written or invalid table, which a direct overwrite exposes the
  * moment the first task commits.
  *
  * The pointer is a single tiny file moved into place with an ATOMIC
  * rename — the local stand-in for the metastore/catalog transaction a
  * real lakehouse commits (same contract as the
  * [[Upsert]] store's version manifest). A failed audit leaves the
  * pointer untouched: the bad batch stays on disk for inspection, and
  * [[read]] keeps serving the last published version.
  */
object Wap {

  /** Run `f` on a driver thread; the returned thunk joins and rethrows
    * (guide §2.6 "overlap independent jobs" — Spark's scheduler happily
    * runs several jobs at once; actions are only sequential because
    * driver code calls them sequentially). Used by the lifecycle ops to
    * overlap read-only probes with staged merges. */
  private[graft] def fork[A](f: => A): () => A = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val out = new java.util.concurrent.atomic.AtomicReference[A]()
    val t = new Thread(() =>
      try out.set(f) catch { case e: Throwable => err.set(e) })
    t.start()
    () => { t.join(); if (err.get() != null) throw err.get(); out.get() }
  }

  /** Outcome of a publish attempt. */
  final case class PublishResult(version: Long, published: Boolean,
      reason: String)

  private def pointerPath(root: String) = Paths.get(root, "CURRENT")

  /** Audit rules: non-empty, no NULL keys, keys unique. Runs ON the
    * staged files (one scan) — auditing the in-memory DataFrame would
    * validate the plan, not what landed on disk. */
  private def audit(spark: SparkSession, stagingDir: String,
      keyCol: String): Option[String] = {
    val staged = spark.read.parquet(stagingDir)
    if (!staged.columns.contains(keyCol))
      return Some(s"key column $keyCol missing")
    val checks = staged.agg(
      count(lit(1)).as("n"),
      count(when(col(keyCol).isNull, 1)).as("n_null"),
      countDistinct(col(keyCol)).as("n_keys")).head()
    val (n, nNull, nKeys) =
      (checks.getLong(0), checks.getLong(1), checks.getLong(2))
    if (n == 0L) Some("empty batch")
    else if (nNull > 0L) Some(s"$nNull NULL keys")
    else if (nKeys != n) Some(s"${n - nKeys} duplicate keys")
    else None
  }

  /** Write `df` to a fresh staging dir under `root`, audit it, and
    * publish by atomic pointer swap if the audit passes. */
  def publish(spark: SparkSession, df: DataFrame, root: String,
      keyCol: String = "event_id"): PublishResult = {
    Files.createDirectories(Paths.get(root))
    val version = System.nanoTime()
    val staging = s"$root/staging_v$version"
    df.write.mode("errorifexists").parquet(staging)
    audit(spark, staging, keyCol) match {
      case Some(reason) => PublishResult(version, published = false, reason)
      case None =>
        val tmp = Paths.get(root, s".CURRENT_v$version")
        Files.write(tmp, staging.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, pointerPath(root),
          StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        PublishResult(version, published = true, "ok")
    }
  }

  /** Read the current published version (pointer-follow). Throws if
    * nothing was ever published — an unpublished table is an error, not
    * an empty one. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val p = pointerPath(root)
    require(Files.exists(p), s"no published version under $root")
    val target = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    spark.read.parquet(target)
  }

  /** Registered-query form: publish the trade batch, then attempt a
    * CORRUPT second publish (NULL keys) that must fail its audit, and
    * read back through the pointer — the result proves the pointer
    * still serves the audited version. */
  def roundTrip(spark: SparkSession, trades: DataFrame): DataFrame = {
    val root = graft.Tables.scratchDir(spark, "wap")
    val r1 = publish(spark, trades, root)
    require(r1.published, s"valid batch failed audit: ${r1.reason}")
    val corrupt = trades.withColumn("event_id",
      when(col("event_id") % 5 === 0, lit(null)).otherwise(col("event_id")))
    val r2 = publish(spark, corrupt, root)
    require(!r2.published, "corrupt batch passed audit")
    read(spark, root)
      .select("event_id", "symbol", "timestamp", "price", "volume")
  }

  /** Oracle for [[roundTrip]] (body only — caller prepends the trades
    * CTE): the audited first version, i.e. the identity. */
  val roundTripSql: String =
    """SELECT event_id, symbol, "timestamp", price, volume FROM trades"""

  // ------------------------------------------------------------------
  // K21 — audited merge: WAP unified with the keyed upsert lifecycle
  // ------------------------------------------------------------------

  /** Composite-key audit over STAGED files (K21's gate): non-empty, no
    * NULL in any key column, composite key unique. One scan of what
    * actually landed on disk, like [[audit]]. */
  private def auditKeys(spark: SparkSession, stagingDir: String,
      keys: Seq[String]): Option[String] = {
    val staged = spark.read.parquet(stagingDir)
    val missing = keys.filterNot(staged.columns.contains)
    if (missing.nonEmpty)
      return Some(s"key columns missing: ${missing.mkString(",")}")
    val anyNull = keys.map(col(_).isNull).reduce(_ || _)
    val checks = staged.agg(
      count(lit(1)).as("n"),
      count(when(anyNull, 1)).as("n_null"),
      count_distinct(col(keys.head), keys.tail.map(col): _*).as("n_keys")).head()
    val (n, nNull, nKeys) =
      (checks.getLong(0), checks.getLong(1), checks.getLong(2))
    if (n == 0L) Some("empty batch")
    else if (nNull > 0L) Some(s"$nNull NULL keys")
    else if (nKeys != n) Some(s"${n - nKeys} duplicate keys")
    else None
  }

  /** K21 — the audited-merge verb, unifying this WAP gate with the
    * [[Upsert]] store's transactional lifecycle (VERDICT r16 #6; the
    * reference's ingestion path upserts whatever arrives —
    * `predict_btc.py:88-91`, `CassandraWriter` in
    * `ProcessStockStream.py:64-90` — with the table's primary key as
    * the only guardrail; this is the production-shaped version where a
    * batch must PROVE key integrity before it may touch the store).
    *
    * Stage the batch UNREFERENCED under `root/staging_b<id>`, audit the
    * staged files (what landed on disk, not the plan), and only on a
    * clean audit hand those same files to [[Upsert.merge]] — whose
    * atomic pointer flip is the publish. A rejected batch leaves the
    * store's version chain COMPLETELY untouched (no version bump, no
    * generation dirs, no manifest) and its staging dir behind for
    * inspection. Replay-safe end to end: the replay marker
    * (`appliedBatchId`) commits atomically with the data, so a
    * re-delivered batch id is recognized and skipped before staging,
    * and a crash between stage and merge re-stages the same dir
    * idempotently (mode overwrite, same path per id).
    *
    * Scale posture: the audit is one count/count-distinct aggregate
    * over the staged batch (batch-sized, not table-sized); everything
    * else is [[Upsert.merge]]'s touched-buckets-only cost. */
  def auditedMerge(spark: SparkSession, batch: DataFrame, batchId: Long,
      root: String, keys: Seq[String],
      bucketBy: Seq[String] = Seq.empty): PublishResult = {
    Files.createDirectories(Paths.get(root))
    val store = s"$root/store"
    if (Upsert.lastAppliedBatch(store).exists(_ >= batchId))
      return PublishResult(batchId, published = true, "already applied")
    val staging = s"$root/staging_b$batchId"
    batch.write.mode("overwrite").parquet(staging)
    auditKeys(spark, staging, keys) match {
      case Some(reason) => PublishResult(batchId, published = false, reason)
      case None =>
        Upsert.merge(spark.read.parquet(staging), batchId, store,
          keys = keys, bucketBy = bucketBy, appliedBatchId = Some(batchId))
        PublishResult(batchId, published = true, "ok")
    }
  }

  /** Serve the audited store (pointer-follow through the Upsert
    * manifest); None if nothing was ever published. */
  def readStore(spark: SparkSession, root: String): Option[DataFrame] =
    Upsert.read(spark, s"$root/store")

  /** Registered-query form (`k21_audited_lifecycle`): drive the full
    * audited lifecycle on a per-(symbol, day) rollup of the trades —
    *
    *   1. base batch: audited merge (publishes),
    *   2. a NULL-key revision batch: REJECTED by the audit, version
    *      chain untouched (asserted loudly),
    *   3. a single-symbol revision (volume doubled): audited merge
    *      (publishes, last-writer-wins on the composite key),
    *   4. [[Upsert.expire]] + [[Upsert.compact]]: history GC'd, serving
    *      path back to one generation / one file per bucket (asserted
    *      loudly via the layout probes and emitted as columns),
    *
    * then serve the table back. The data oracle is pure SQL: base
    * rollup with the max symbol's volume doubled. Empty corpus ⇒ the
    * base batch fails its "non-empty" audit and no store exists ⇒
    * EMPTY-OK (schema-stable empty result), mirroring the oracle's
    * empty rollup. */
  def auditedLifecycle(spark: SparkSession, trades: DataFrame): DataFrame = {
    import graft.ops.TradeOps
    val root = TradeOps.freshScratchDir(spark, "audited_lifecycle")
    // r17: keyed feeds four actions (two staged merges, the corrupt
    // staging write, the max-symbol probe) — materialize the
    // (symbol x day)-sized rollup once instead of re-running the trades
    // scan+aggregate per action.
    val keyed = trades
      .groupBy(col("symbol"), date_trunc("day", col("timestamp")).as("day"))
      .agg(count(lit(1)).as("n_trades"),
        graft.Num.decD(sum(graft.Num.dec(col("volume")))).as("vol"))
      .localCheckpoint()
    val keys = Seq("symbol", "day")
    // r18 (guide §2.6 "overlap independent jobs"): three mutually
    // independent pieces of work ran sequentially — the base merge, the
    // corrupt batch's staging write + audit (which NEVER touches the
    // store: the NULL-key audit rejects before merge, its staging dir
    // is disjoint, and auditedMerge's only store access is the
    // replay-marker read, which sees the pointer before or after r0's
    // atomic flip with the same outcome), and the max-symbol probe over
    // the pinned rollup (no store access at all). Submit all three from
    // driver threads; every require below still runs in order AFTER the
    // joins, and v0 is read after r0 completes, so the
    // rejected-batch-moved-nothing probe asserts exactly what it did.
    val corrupt = keyed.withColumn("day", lit(null).cast("timestamp"))
    val r0f = Wap.fork(auditedMerge(spark, keyed, 0L, root, keys,
      bucketBy = Seq("symbol")))
    val r1f = Wap.fork(auditedMerge(spark, corrupt, 1L, root, keys,
      bucketBy = Seq("symbol")))
    val maxSymF = Wap.fork(keyed.agg(max(col("symbol"))).head())
    val r0 = r0f()
    if (!r0.published) {
      r1f(); maxSymF() // drain; their results are irrelevant without r0
      return keyed
        .withColumn("gens_after", lit(1L))
        .withColumn("max_files_per_bucket", lit(1L))
        .limit(0)
    }
    val v0 = Upsert.currentVersion(s"$root/store")
    // NULL-key corruption: the audit must reject it and the store's
    // version chain must not move
    val r1 = r1f()
    require(!r1.published, "NULL-key batch passed the audit")
    require(Upsert.currentVersion(s"$root/store") == v0,
      "rejected batch moved the version chain")
    // single-symbol revision: volume doubled (exact power-of-two
    // multiply of the decD double — bit-identical in both engines)
    val maxSym = maxSymF().getString(0)
    val revised = keyed.filter(col("symbol") === maxSym)
      .withColumn("vol", col("vol") * lit(2.0d))
    val r2 = auditedMerge(spark, revised, 2L, root, keys,
      bucketBy = Seq("symbol"))
    require(r2.published, s"revision batch failed audit: ${r2.reason}")
    Upsert.expire(s"$root/store", keepLast = 1)
    Upsert.compact(spark, s"$root/store")
    val gens = Upsert.liveGenerations(s"$root/store")
    val maxFiles = Upsert.maxFilesPerBucket(s"$root/store")
    require(gens == 1 && maxFiles == 1,
      s"serving path not compact after lifecycle: gens=$gens files=$maxFiles")
    readStore(spark, root).get
      .select(col("symbol"), col("day"), col("n_trades"), col("vol"))
      .withColumn("gens_after", lit(gens.toLong))
      .withColumn("max_files_per_bucket", lit(maxFiles.toLong))
  }

  /** Oracle for [[auditedLifecycle]] (body only — caller prepends the
    * trades CTE): the rejected batch is invisible, the revision doubles
    * the max symbol's volume, compaction is row-invisible with constant
    * layout probes. */
  val auditedLifecycleSql: String =
    """SELECT symbol, date_trunc('day', "timestamp") AS day,
      |       CAST(count(*) AS BIGINT) AS n_trades,
      |       CAST(CAST(sum(CAST(volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
      |         * (CASE WHEN symbol = (SELECT max(symbol) FROM trades)
      |                 THEN 2.0::DOUBLE ELSE 1.0::DOUBLE END) AS vol,
      |       CAST(1 AS BIGINT) AS gens_after,
      |       CAST(1 AS BIGINT) AS max_files_per_bucket
      |FROM trades GROUP BY 1, 2""".stripMargin
}
