package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * The `trades` view projects the synthetic `events` table into the
  * reference's flat trade-row shape (SURVEY.md §1.1; reference
  * `scripts/StreamProcessing/ProcessStockStream.py:102-109`):
  * `(symbol, timestamp, price, volume, usd_volume)` — with `event_type`
  * standing in for the symbol and a deterministic derived volume, so every
  * trade-pipeline operator is oracle-checkable against DuckDB.
  */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Re-stage a testdata dir as splittable multi-file parquet.
    *
    * The driver's tables are single-file/single-row-group; a parquet row
    * group cannot split, so every scan — and everything before the first
    * shuffle: format writes, signature computation, broadcast-join
    * chains — runs in ONE task no matter how many cores exist. A real
    * 100-TB table arrives as thousands of files and never hits this; the
    * bench stages once per session to give the local run the same
    * production shape (scans split, pruning/pushdown intact, no
    * per-query repartition shuffles). Sized ~1 MiB/file, capped at core
    * count. `events.ts` is re-written in whatever type it was read as
    * (LONG nanos under the legacy flag, or native TIMESTAMP micros);
    * [[events]] is schema-adaptive so either round-trips identically.
    *
    * `body` runs on the staged copy, which is deleted when it returns or
    * throws: one staged sf0.1 dir is 17 MB, so a kept copy grows the temp
    * dir by that much on every run.
    */
  def withStaged[A](spark: SparkSession, dir: String)(body: String => A): A = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_staged_" +
      s"${spark.sparkContext.applicationId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    try {
      stage(spark, dir, out)
      body(out)
    } finally deleteTree(out)
  }

  private def stage(spark: SparkSession, dir: String, out: String): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        val df = spark.read.parquet(f.getPath)
        // split only the genuinely large tables — fanning small tables
        // into 32 shards just adds task overhead (r8 measured a 2k-row
        // table 3x slower when 32-sharded: its consumers are many tiny
        // latency-bound stages).
        //
        // r18 (guide §2.5 "input skew: one huge unsplittable file"): a
        // MIDDLE tier for the row-heavy small tables. Staged
        // single-file, such a table runs the first stage of every
        // consumer in ONE task until its first shuffle; 8-way staging
        // spreads that stage while staying small enough to keep the r8
        // lesson. `events` at sf0.01 (10,000 rows) is in this tier.
        val n = df.count()
        val parts =
          if (n < 2500) 1
          else if (n < 50000) 8.min(cores)
          else cores
        df.repartition(parts).write.mode("overwrite").parquet(s"$out/${f.getName}")
      }
  }

  /** Scratch directories handed out per application id. */
  private val scratch =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()

  /** `java.io.tmpdir/graft_<name>_<applicationId>`: a per-session scratch
    * path, so concurrent runs (bench and tests) never race on an
    * overwrite of a shared directory. The first call in a session
    * registers a listener that deletes every path handed out to it when
    * its SparkContext stops, which Spark's shutdown hook also does; the
    * names carry the application id, so a kept store would never be
    * reused and every session would add a new set. */
  private[graft] def scratchDir(spark: SparkSession, name: String): String = {
    val sc = spark.sparkContext
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${sc.applicationId}"
    scratch.computeIfAbsent(sc.applicationId, app => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          Option(scratch.remove(app)).foreach(_.forEach(deleteTree(_)))
      })
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    }).add(dir)
    dir
  }

  /** Delete a file or directory tree; a missing path is a no-op. */
  private[graft] def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** Schema-adaptive `ts` loader. The driver has shipped `events.parquet`
    * in two formats: INT64 TIMESTAMP(NANOS) — which Spark's parquet reader
    * rejects unless `spark.sql.legacy.parquet.nanosAsLong` maps it to LONG,
    * then truncated to micros with integer division (DuckDB's reader does
    * the same truncation, so oracles agree; double division would lose
    * precision: epoch-nanos ≈ 1.7e18 exceeds 2^53) — and native
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    * TIMESTAMP_NTZ and is cast to TimestampType below. Branch on the
    * loaded type so every format the driver has shipped yields identical
    * microsecond timestamps.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => // legacy INT64 TIMESTAMP(NANOS) read as raw nanos
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // Native TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as NTZ;
        // downstream operators (unix_micros, double casts, Timestamp
        // getters) and the Verify dumps assume TimestampType. With the
        // session timezone pinned to UTC the cast is value-identical to
        // the old nanos path and to DuckDB's naive read of the same file.
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already TimestampType
    }
  }

  /** Flat trade rows (reference `ProcessStockStream.py:102-109` output
    * shape). `volume` is a deterministic function of `event_id` so DuckDB
    * can derive the identical column.
    */
  def trades(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id"),
      col("user_id"),
      col("event_type").as("symbol"),
      col("ts").as("timestamp"),
      col("value").as("price"),
      (((col("event_id") % 97) + 1) * lit(0.1)).as("volume"))
      .withColumn("usd_volume", col("price") * col("volume"))

  /** DuckDB CTE equivalent of [[trades]]; prefix of most oracle queries.
    * `0.1::DOUBLE` forces double math (a bare `0.1` is DECIMAL in DuckDB,
    * which would round differently from Spark's double multiply).
    */
  val tradesCte: String =
    """WITH trades AS (
      |  SELECT event_id, user_id,
      |         event_type AS symbol,
      |         ts AS "timestamp",
      |         value AS price,
      |         ((event_id % 97) + 1) * 0.1::DOUBLE AS volume,
      |         value * (((event_id % 97) + 1) * 0.1::DOUBLE) AS usd_volume
      |  FROM events
      |)""".stripMargin
}
