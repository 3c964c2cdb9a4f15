package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ingest.Decode
import graft.sinks.Upsert
import graft.streaming.{Stateful, StreamingJob}

/** Streaming semantics (SURVEY.md §2.8 T1-T14) driven by MemoryStream. */
class StreamingSpec extends SparkSuite {

  import Stateful._

  private def envelope(symbol: String, tMillis: Long, price: Double,
      volume: Double, cv: Double): String =
    s"""{"data":[{"c":null,"p":$price,"s":"$symbol","t":$tMillis,"v":$volume,"cv":$cv}],"type":"trade"}"""

  private val t0 = 1700000000000L // stable epoch-millis base

  test("4-query DAG: decode fan-out, update-mode upsert, append-mode finalization") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val out = tmpDir("graft-stream-out")
    val ckpt = tmpDir("graft-stream-ckpt")
    val queries = StreamingJob.run(spark, input.toDF().select(col("value")),
      StreamingJob.Config(out, ckpt))
    try {
      // two trades in minute 0, one in minute 1
      input.addData(
        envelope("BTC", t0, 10.0, 1.0, 1.0),
        envelope("BTC", t0 + 5000, 12.0, 2.0, 3.0),
        envelope("BTC", t0 + 60000, 11.0, 4.0, 7.0))
      queries.foreach(_.processAllAvailable())

      val vol = Upsert.read(spark, s"$out/volume_tracking").get
      assert(vol.count() === 2) // two 1-minute windows
      val m0 = vol.filter(col("total_volume") === 3.0).count()
      assert(m0 === 1)

      val price = Upsert.read(spark, s"$out/price_tracking").get
      assert(price.count() === 3)

      // update-mode re-emission: a later trade revises minute-1's window;
      // the upsert store must keep exactly one row per (symbol, minute).
      input.addData(envelope("BTC", t0 + 61000, 20.0, 6.0, 13.0))
      queries.foreach(_.processAllAvailable())
      val vol2 = Upsert.read(spark, s"$out/volume_tracking").get
      assert(vol2.count() === 2)
      assert(vol2.filter(col("total_volume") === 10.0).count() === 1) // 4+6

      // append-mode feature sink: windows finalize only once the 10s
      // watermark passes — push it far ahead and check output appears.
      input.addData(envelope("BTC", t0 + 600000, 15.0, 1.0, 14.0))
      queries.foreach(_.processAllAvailable())
      val features = spark.read.schema("key STRING, value STRING")
        .csv(s"$out/btc_features")
      assert(features.count() > 0)
      assert(features.filter(col("key") === "BTC").count() === features.count())

      // partitioned file sink wrote year=/month=/day= directories
      val stored = spark.read
        .schema("symbol STRING, timestamp TIMESTAMP, total_usd_volume DOUBLE, " +
          "total_btc_volume DOUBLE, close DOUBLE, high DOUBLE, low DOUBLE, " +
          "num_trades LONG, hour INT, year INT, month INT, day INT")
        .csv(s"$out/features_store")
      assert(stored.select("year").distinct().count() >= 1)
    } finally queries.foreach(_.stop())
  }

  /** What a checkpoint manager gets wrong about commits, empty when it
    * gets nothing wrong: an atomic create that replaces an existing file
    * although the caller forbade it, and checkpoint files committed
    * without a checksum (a Hadoop `.crc` sidecar for every offsets and
    * commits entry, a Spark checksum file for every state delta). */
  private def commitFaults(mgr: CheckpointFileManager, ckpt: String): Seq[String] = {
    val probe = new Path(ckpt, "probe")
    def create(text: String, overwrite: Boolean): Unit = {
      val o = mgr.createAtomic(probe, overwrite)
      o.write(text.getBytes("UTF-8"))
      o.close()
    }
    create("first", overwrite = false)
    val refused = scala.util.Try(create("second", overwrite = false)).isFailure
    val kept = Files.readString(Paths.get(probe.toUri.getPath)) == "first"
    val files = Files.walk(Paths.get(ckpt)).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    def named(re: String) = files.filter(_.getFileName.toString.matches(re))
    val logs = named("""\d+""").filter(f => Set("offsets", "commits")(f.getParent.getFileName.toString))
    val deltas = named("""\d+\.delta""")
    assert(logs.nonEmpty && deltas.nonEmpty, s"no log entries or state deltas under $ckpt")
    val bare = logs.filterNot(f => Files.exists(f.resolveSibling(s".${f.getFileName}.crc"))) ++
      deltas.filterNot(f => Files.exists(f.resolveSibling(s"${f.getFileName}.crc")))
    (if (refused && kept) Nil
     else Seq(s"createAtomic without overwrite: threw $refused, kept the first content $kept")) ++
      bare.map(f => s"no checksum for $f")
  }

  test("DAG checkpoints: a local root commits without overwriting, " +
      "every log entry and state delta checksummed") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val out = tmpDir("graft-ckfm-out")
    val ckpt = tmpDir("graft-ckfm-ckpt")
    val queries = StreamingJob.run(spark, input.toDF().select(col("value")),
      StreamingJob.Config(out, ckpt))
    try {
      input.addData(envelope("BTC", t0, 10.0, 1.0, 1.0),
        envelope("ETH", t0 + 5000, 12.0, 2.0, 2.0))
      queries.foreach(_.processAllAvailable())
      input.addData(envelope("BTC", t0 + 70000, 11.0, 4.0, 5.0))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    val mgr = CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
    assert(commitFaults(mgr, ckpt) === Nil)

    // the check tells a sound manager from one that replaces files and
    // drops checksums: a small stateful query committed by
    // [[NioCheckpointFileManager]] fails the overwrite probe and the
    // log sidecars
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val nioCkpt = tmpDir("graft-ckfm-nio")
    val before = spark.conf.getOption(key)
    spark.conf.set(key, classOf[NioCheckpointFileManager].getName)
    try {
      val events = MemoryStream[TradeEvent](spark)
      val q = events.toDF().groupBy("symbol").count()
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", nioCkpt).start()
      try {
        events.addData(TradeEvent("BTC", new java.sql.Timestamp(t0), 10.0, 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val nio = CheckpointFileManager.create(new Path(nioCkpt), spark.sessionState.newHadoopConf())
      assert(nio.isInstanceOf[NioCheckpointFileManager])
      val faults = commitFaults(nio, nioCkpt)
      assert(faults.exists(_.startsWith("createAtomic")), faults)
      assert(faults.exists(_.contains("/offsets/")), faults)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("DAG micro-batches compile no generated classes in steady state; " +
      "the caller's session keeps its codegen settings") {
    import spark.implicits._
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val preset = spark.conf.getAll.get(keys.head)
    spark.conf.set(keys.head, "true")
    val settings = keys.map(spark.conf.getAll.get)
    val input = MemoryStream[String](spark)
    val out = tmpDir("graft-interp-out")
    val ckpt = tmpDir("graft-interp-ckpt")
    try {
      val queries = StreamingJob.run(spark, input.toDF().select(col("value")),
        StreamingJob.Config(out, ckpt))
      assert(keys.map(spark.conf.getAll.get) === settings, "run changed the caller's codegen settings")
      try {
        // batch i carries 40 trades of 4 symbols over 20 s of event time,
        // so every batch moves the watermarks and closes feature windows
        def batch(i: Int): Unit = {
          input.addData((0 until 40).map { j =>
            envelope(s"S${j % 4}", t0 + i * 20000L + j * 500, 10.0 + j % 7, 1.0 + j % 3, i * 40.0 + j)
          }: _*)
          queries.foreach(_.processAllAvailable())
        }
        (0 until 2).foreach(batch)
        val warm = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        (2 until 5).foreach(batch)
        // Janino compiles, counted on cache misses only: 0 when the
        // batches run interpreted, 369 under Spark's codegen defaults,
        // where per-batch literals keep changing the generated classes
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - warm
        assert(compiled <= 20, s"$compiled classes compiled in three steady-state batches")
      } finally queries.foreach(_.stop())
    } finally preset.fold(spark.conf.unset(keys.head))(spark.conf.set(keys.head, _))
  }

  test("late data beyond the watermark is dropped from append-mode aggs") {
    import spark.implicits._
    val input = MemoryStream[TradeEvent](spark)
    val agg = input.toDF()
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "30 seconds", "10 seconds"), col("symbol"))
      .agg(sum(col("volume")).as("v"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    try {
      def ev(offsetMs: Long, v: Double) =
        TradeEvent("BTC", new java.sql.Timestamp(t0 + offsetMs), 1.0, v)
      input.addData(ev(0, 1.0), ev(5000, 1.0))
      q.processAllAvailable()
      input.addData(ev(120000, 1.0)) // advances watermark to ~110s
      q.processAllAvailable()
      val afterAdvance = spark.table("late_test")
        .agg(sum(col("v"))).head.getDouble(0)
      input.addData(ev(1000, 99.0)) // late by ~2 minutes: must be dropped
      q.processAllAvailable()
      val afterLate = spark.table("late_test")
        .agg(sum(col("v"))).head.getDouble(0)
      assert(afterLate === afterAdvance)
    } finally q.stop()
  }

  test("streaming dedup: in-horizon re-deliveries dropped, state evicted after") {
    import spark.implicits._
    val input = MemoryStream[TradeEvent](spark)
    val deduped = StreamingJob.dedupWithinWatermark(
      input.toDF(), keyCols = Seq("symbol"), tsCol = "ts",
      horizon = "10 seconds")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    try {
      def ev(offsetMs: Long, v: Double) =
        TradeEvent("BTC", new java.sql.Timestamp(t0 + offsetMs), 1.0, v)
      // intra- and cross-batch re-deliveries inside the horizon: one row
      input.addData(ev(0, 1.0), ev(0, 1.0), ev(5000, 2.0))
      q.processAllAvailable()
      input.addData(ev(1000, 9.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() === 1)
      // watermark only advances at batch END: this far-future event still
      // sees the live BTC entry (evicted only after the batch), so it is
      // deduped — and its event time pushes the watermark to ~110s
      input.addData(ev(120000, 3.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() === 1)
      // now the entry is evicted: the key is accepted again and re-arms
      input.addData(ev(121000, 4.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() === 2)
      input.addData(ev(122000, 5.0)) // inside the re-armed horizon
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() === 2)
    } finally q.stop()
  }

  test("stateful cumulative volume carries across micro-batches") {
    import spark.implicits._
    val input = MemoryStream[TradeEvent](spark)
    val q = Stateful.cumulativeVolume(spark, input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("cum_test").start()
    try {
      def ev(sym: String, offsetMs: Long, v: Double) =
        TradeEvent(sym, new java.sql.Timestamp(t0 + offsetMs), 1.0, v)
      input.addData(ev("A", 0, 1.0), ev("A", 1000, 2.0), ev("B", 0, 5.0))
      q.processAllAvailable()
      input.addData(ev("A", 2000, 3.0))
      q.processAllAvailable()
      val rows = spark.table("cum_test").as[CumRow].collect()
        .groupBy(_.symbol).view.mapValues(_.sortBy(_.ts.getTime).map(_.cumulative_volume))
      assert(rows("A").toSeq === Seq(1.0, 3.0, 6.0)) // state survived the batch boundary
      assert(rows("B").toSeq === Seq(5.0))
    } finally q.stop()
  }

  test("lookback buffer emits only once full, FIXTURES.md §6 cases") {
    import spark.implicits._
    for ((count, expected) <- Seq(99 -> 0, 100 -> 1, 101 -> 2, 150 -> 51)) {
      val input = MemoryStream[TradeEvent](spark)
      val q = Stateful.lookbackBuffer(spark, input.toDS(), n = 100)
        .writeStream.outputMode("append")
        .format("memory").queryName(s"lb_$count").start()
      try {
        input.addData((1 to count).map(i =>
          TradeEvent("BTC", new java.sql.Timestamp(t0 + i * 1000L), i.toDouble, 1.0)))
        q.processAllAvailable()
        assert(spark.table(s"lb_$count").count() === expected, s"count=$count")
        if (count >= 100) {
          // last emission carries the most recent 100 rows, oldest
          // first (drop-oldest), and the matching running average
          val last = spark.table(s"lb_$count").as[LookbackRow].collect()
            .maxBy(_.ts.getTime)
          val lo = count - 100 + 1
          assert(math.abs(last.avg_price - (lo + count) / 2.0) < 1e-9)
          assert(last.matrix.length === 100)
          assert(last.matrix.map(_.price) === (lo to count).map(_.toDouble))
          assert(last.matrix.last.ts === last.ts) // newest row is the emission row
        }
      } finally q.stop()
    }
  }

  test("streaming dedup within watermark drops repeats, state stays bounded") {
    import spark.implicits._
    val input = MemoryStream[TradeEvent](spark)
    val q = StreamingJob.dedupWithinWatermark(input.toDF(),
        keyCols = Seq("symbol", "ts"), tsCol = "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm").start()
    try {
      def ev(offsetMs: Long, v: Double) =
        TradeEvent("BTC", new java.sql.Timestamp(t0 + offsetMs), 1.0, v)
      // same (symbol, ts) three times in one batch + once more next batch
      input.addData(ev(0, 1.0), ev(0, 1.0), ev(0, 1.0), ev(5000, 2.0))
      q.processAllAvailable()
      input.addData(ev(0, 1.0)) // duplicate within watermark: dropped
      q.processAllAvailable()
      assert(spark.table("dedup_wm").count() === 2) // (0) and (5000)
      // 20 more distinct keys, 10 s apart, each delivered twice: every
      // key comes out once, while the watermark (30 s horizon) evicts
      // old keys, so the live state never holds more than the keys of
      // the last ~70 s of event time
      for (i <- 1 to 20) {
        input.addData(ev(5000L + i * 10000L, 1.0), ev(5000L + i * 10000L, 1.0))
        q.processAllAvailable()
      }
      assert(spark.table("dedup_wm").count() === 22)
      val live = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(live.nonEmpty)
      assert(live.max <= 10, s"dedup state grew with the key count: ${live.toSeq}")
    } finally q.stop()
  }

  test("streaming session windows merge per-user bursts, finalize on watermark") {
    import spark.implicits._
    val input = MemoryStream[TradeEvent](spark)
    val sessions = input.toDS().toDF()
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 seconds"), col("symbol"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("symbol"), col("session_window.start").as("s"),
        col("session_window.end").as("e"), col("n_events"))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()
    try {
      def ev(sym: String, offsetMs: Long) =
        TradeEvent(sym, new java.sql.Timestamp(t0 + offsetMs), 1.0, 1.0)
      // burst of 3 within 30s gaps, then silence, then a far event that
      // advances the watermark past the session end -> finalized once
      input.addData(ev("A", 0), ev("A", 10000), ev("A", 20000))
      q.processAllAvailable()
      input.addData(ev("A", 600000))
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .select("symbol", "n_events").as[(String, Long)].collect().toSet
      assert(rows.contains(("A", 3L)), s"merged session of 3, got $rows")
    } finally q.stop()
  }

  test("streamed volume agg equals batch recompute over on-time events") {
    import spark.implicits._
    // deterministic pseudo-random stream: 120 events, 3 symbols,
    // jittered timestamps, delivered in 3 chronological chunks plus one
    // event late beyond the 30s watermark (must be dropped).
    val rnd = new scala.util.Random(42)
    val events = (0 until 120).map { i =>
      (Seq("BTC", "ETH", "SOL")(rnd.nextInt(3)),
        t0 + i * 3000L + rnd.nextInt(2000),
        10.0 + rnd.nextInt(100) / 7.0,
        1.0 + rnd.nextInt(50) / 10.0)
    }
    val chunks = events.grouped(40).toSeq
    val late = ("BTC", t0, 99.0, 99.0) // ~6 min older than chunk 1 max

    val input = MemoryStream[String](spark)
    val out = tmpDir("graft-golden-out")
    val ckpt = tmpDir("graft-golden-ckpt")
    val queries = StreamingJob.run(spark, input.toDF().select(col("value")),
      StreamingJob.Config(out, ckpt))
    try {
      def send(es: Seq[(String, Long, Double, Double)]): Unit = {
        input.addData(es.map { case (s, t, p, v) => envelope(s, t, p, v, 0.0) })
        queries.foreach(_.processAllAvailable())
      }
      send(chunks(0))
      send(chunks(1) :+ late) // late event arrives with chunk 2
      send(chunks(2))

      val streamed = Upsert.read(spark, s"$out/volume_tracking").get
        .select(col("symbol"), col("timestamp"),
          round(col("total_volume"), 6).as("tv"),
          round(col("total_usd_volume"), 6).as("tuv"))

      val expected = events.toDF("symbol", "t", "price", "volume")
        .withColumn("timestamp", date_trunc("minute", timestamp_millis(col("t"))))
        .groupBy("symbol", "timestamp")
        .agg(round(sum(col("volume")), 6).as("tv"),
          round(sum(col("price") * col("volume")), 6).as("tuv"))

      assert(streamed.count() === expected.count())
      assert(streamed.exceptAll(expected).count() === 0,
        "streamed sink rows differ from batch recompute")
      assert(expected.exceptAll(streamed).count() === 0)
    } finally queries.foreach(_.stop())
  }

  test("upsert merge rewrites only the buckets the batch touches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("graft-upsert-buckets")
    val b1 = (0 until 64).map(i => (s"k$i", 1L, i.toDouble)).toDF("k", "t", "v")
    Upsert.merge(b1, 0, root, Seq("k", "t"))
    def parquetFiles(): Set[String] =
      Files.walk(Paths.get(root)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val before = parquetFiles()
    // single-key batch → exactly one bucket rewritten; nBuckets given
    // here must be ignored (pinned at table creation) or the key→bucket
    // mapping would drift
    Upsert.merge(Seq(("k3", 1L, 99.0)).toDF("k", "t", "v"), 1, root,
      Seq("k", "t"), nBuckets = 999)
    // every original file survives (untouched buckets are carried by
    // manifest reference, not rewritten)
    assert(before.subsetOf(parquetFiles()))
    // the new generation contains exactly one bucket dir
    val gen1Buckets = Files.list(Paths.get(root, "gen1")).iterator().asScala
      .count(_.getFileName.toString.startsWith("_bucket="))
    assert(gen1Buckets === 1)
    val rows = Upsert.read(spark, root).get.select("k", "v")
      .as[(String, Double)].collect().toMap
    assert(rows("k3") === 99.0)
    assert(rows.size === 64)
  }

  test("AvailableNow trigger drains the backlog then stops on its own") {
    import java.nio.file.{Files, Paths}
    val in = tmpDir("graft-avnow-in")
    val out = tmpDir("graft-avnow-out")
    val ckpt = tmpDir("graft-avnow-ckpt")
    def envelope(tMillis: Long, p: Double): String =
      s"""{"data":[{"c":null,"p":$p,"s":"BTC","t":$tMillis,"v":1.0,"cv":1.0}],"type":"trade"}"""
    Files.write(Paths.get(in, "b1.json"),
      (1 to 5).map(i => envelope(1700000000000L + i * 1000, i.toDouble))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val q = Decode.decodeFlatten(spark.readStream.text(in).select(col("value")))
      .select("symbol", "timestamp", "price")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    // AvailableNow = process everything present at start, then terminate
    // without an external stop — the batch-catchup mode for a streaming
    // pipeline replaying history
    assert(q.awaitTermination(60000), "query must self-terminate")
    assert(spark.read.parquet(out).count() === 5)
    // a second run with new backlog resumes from the checkpoint
    Files.write(Paths.get(in, "b2.json"),
      Seq(envelope(1700000010000L, 9.0)).mkString("", "\n", "\n").getBytes("UTF-8"))
    val q2 = Decode.decodeFlatten(spark.readStream.text(in).select(col("value")))
      .select("symbol", "timestamp", "price")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    assert(q2.awaitTermination(60000))
    assert(spark.read.parquet(out).count() === 6, "no reprocessing, only the new file")
  }

  test("upsert GC removes stale bucket copies from surviving generations") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("graft-upsert-gc")
    val b1 = (0 until 64).map(i => (s"k$i", 1L, i.toDouble)).toDF("k", "t", "v")
    Upsert.merge(b1, 0, root, Seq("k", "t"))
    Upsert.merge(Seq(("k3", 1L, 91.0)).toDF("k", "t", "v"), 1, root, Seq("k", "t"))
    Upsert.merge(Seq(("k3", 1L, 92.0)).toDF("k", "t", "v"), 2, root, Seq("k", "t"))
    // one-version grace: gen1 is still referenced by the PREVIOUS
    // manifest (readers pinned just before the flip), so it survives
    // one merge and dies on the next
    assert(Files.exists(Paths.get(root, "gen1")))
    Upsert.merge(Seq(("k3", 1L, 93.0)).toDF("k", "t", "v"), 3, root, Seq("k", "t"))
    assert(!Files.exists(Paths.get(root, "gen1")))
    // k3's bucket dir: the only one in gen3
    val hot = Files.list(Paths.get(root, "gen3")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_bucket=")).toSeq.head
    // gen0 survives for its other buckets, but its stale copy of the
    // hot bucket has been GC'd
    assert(!Files.exists(Paths.get(root, "gen0", hot)))
    assert(Files.list(Paths.get(root, "gen0")).iterator().asScala
      .count(_.getFileName.toString.startsWith("_bucket=")) > 0)
    val rows = Upsert.read(spark, root).get.select("k", "v")
      .as[(String, Double)].collect().toMap
    assert(rows("k3") === 93.0)
    assert(rows.size === 64)
  }

  test("upsert readKey serves a point lookup from a single bucket dir") {
    import spark.implicits._
    val root = tmpDir("graft-upsert-pointread")
    val b1 = (0 until 200).map(i => (s"sym${i % 20}", i.toLong, i.toDouble))
      .toDF("symbol", "t", "v")
    Upsert.merge(b1, 0, root, Seq("symbol", "t"), bucketBy = Seq("symbol"))
    val served = Upsert.readKey(spark, root, Seq("sym7")).get
    // correct rows, and the scan touched exactly one bucket dir
    assert(served.count() === 10)
    assert(served.filter(col("symbol") =!= "sym7").count() === 0)
    val bucketDirs = served.inputFiles
      .map(_.replaceAll("/[^/]*$", "")).toSet
    assert(bucketDirs.size === 1, s"expected one bucket dir, got $bucketDirs")
    // matches the unpruned full-table read + filter
    val full = Upsert.read(spark, root).get.filter(col("symbol") === "sym7")
      .select("symbol", "t", "v").as[(String, Long, Double)].collect().toSet
    val viaKey = served.select("symbol", "t", "v")
      .as[(String, Long, Double)].collect().toSet
    assert(viaKey === full)
  }

  test("upsert merge keeps one row per repeated key, on table creation too") {
    import spark.implicits._
    // a redelivered row inside one batch: (S01, 1) twice
    val batch = Seq(("S01", 1L, 10.0), ("S01", 1L, 10.0), ("S02", 1L, 20.0))
      .toDF("symbol", "t", "v")
    def keysOf(root: String): (Long, Long) = {
      val df = Upsert.read(spark, root).get
      (df.count(), df.select("symbol", "t").distinct().count())
    }
    // create path: none of the batch's buckets exists yet
    val fresh = tmpDir("graft-upsert-dup-create")
    Upsert.merge(batch, 0, fresh, Seq("symbol", "t"), bucketBy = Seq("symbol"))
    assert(keysOf(fresh) === ((2L, 2L)), "create path must dedup the batch")
    // existing-bucket path: the same batch over a store that holds the keys
    val existing = tmpDir("graft-upsert-dup-existing")
    Upsert.merge(Seq(("S01", 1L, 1.0), ("S02", 1L, 2.0)).toDF("symbol", "t", "v"),
      0, existing, Seq("symbol", "t"), bucketBy = Seq("symbol"))
    Upsert.merge(batch, 1, existing, Seq("symbol", "t"), bucketBy = Seq("symbol"))
    assert(keysOf(existing) === ((2L, 2L)))
    val rows = Upsert.read(spark, existing).get.select("symbol", "v")
      .as[(String, Double)].collect().toMap
    assert(rows === Map("S01" -> 10.0, "S02" -> 20.0))
  }

  test("upsert merge plans one exchange: the dedup window runs on the " +
      "bucket partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = tmpDir("graft-upsert-plan")
    val b = (0 until 200).map(i => (s"S${i % 20}", i.toLong, i.toDouble))
      .toDF("symbol", "t", "v")
    Upsert.merge(b, 0, root, Seq("symbol", "t"), nBuckets = 4, bucketBy = Seq("symbol"))
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "command") writes.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // every bucket exists, so this merge reads stored rows and dedups
      Upsert.merge(b, 1, root, Seq("symbol", "t"), bucketBy = Seq("symbol"))
      val deadline = System.currentTimeMillis() + 10000
      while (writes.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size === 1, "one write per merge")
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(writes.peek().executedPlan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.size === 1, writes.peek().executedPlan.toString)
    assert(Upsert.read(spark, root).get.count() === 200)
  }

  test("DAG stores: one bucket per shuffle partition, one file per bucket " +
      "after every merge") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val input = MemoryStream[String](spark)
    val out = tmpDir("graft-dag-width-out")
    val ckpt = tmpDir("graft-dag-width-ckpt")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val queries = StreamingJob.run(spark, input.toDF().select(col("value")),
      StreamingJob.Config(out, ckpt))
    try {
      (0 until 3).foreach { b =>
        input.addData((0 until 40).map(i =>
          envelope(s"S$i", t0 + b * 60000 + i * 100, 10.0 + i, 1.0, 1.0 + b)): _*)
        queries.foreach(_.processAllAvailable())
        Seq("volume_tracking", "price_tracking").foreach { t =>
          val root = s"$out/$t"
          assert(storeBuckets(root) === width, s"$t: buckets")
          assert(Upsert.maxFilesPerBucket(root) === 1, s"$t: files per bucket")
        }
      }
      // 40 symbols fill every bucket, and no bucket id reaches the width
      val walk = Files.walk(Paths.get(out, "price_tracking"))
      val bucketDirs = try walk.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_bucket=")).toSet finally walk.close()
      assert(bucketDirs === (0 until width).map(b => s"_bucket=$b").toSet)
      assert(Upsert.read(spark, s"$out/price_tracking").get.count() === 120)
    } finally queries.foreach(_.stop())
  }

  test("upsert merge is idempotent under batch replay") {
    import spark.implicits._
    val root = tmpDir("graft-upsert")
    val b1 = Seq(("A", 1L, 10.0), ("B", 1L, 20.0)).toDF("k", "t", "v")
    val b2 = Seq(("B", 1L, 25.0), ("C", 2L, 30.0)).toDF("k", "t", "v")
    Upsert.merge(b1, 0, root, Seq("k", "t"))
    Upsert.merge(b2, 1, root, Seq("k", "t"))
    Upsert.merge(b2, 1, root, Seq("k", "t")) // replay of batch 1
    val rows = Upsert.read(spark, root).get.select("k", "v").as[(String, Double)]
      .collect().toMap
    assert(rows === Map("A" -> 10.0, "B" -> 25.0, "C" -> 30.0))
  }

  test("query_05 predict vertical: stream agrees with batch predictNext on the same bars") {
    import spark.implicits._
    val n = 10 // small lookback so sf0.001 yields plenty of emissions
    val trades = Tables.trades(spark, sf)
    val bars = graft.ops.TradeOps.slidingFeatures(trades)
    // the scaler is fitted offline over the full bar history (the
    // reference pickles a fitted MinMaxScaler) — both sides score with it
    val stats = graft.ops.Predict.scalerStats(bars)
    val expected = graft.ops.Predict
      .predictNext(trades, n, scorer = graft.ops.Predict.linearScorer(n))
      .select("symbol", "timestamp", "predicted_close")
      .as[(String, java.sql.Timestamp, Double)].collect().toSet
    assert(expected.nonEmpty)

    // feed the SAME bars as the streaming features topic, in three
    // time-ordered chunks (order within a symbol is what matters)
    val feed = bars
      .select(col("symbol"), col("timestamp"), col("close"), col("high"),
        col("low"), col("total_usd_volume"),
        col("total_volume").as("total_btc_volume"), col("num_trades"))
      .as[(String, java.sql.Timestamp, Double, Double, Double, Double, Double, Long)]
      .collect().sortBy(_._2.getTime)
    val input = MemoryStream[(String, java.sql.Timestamp, Double, Double,
      Double, Double, Double, Long)](spark)
    val out = tmpDir("graft-predict-out")
    val ckpt = tmpDir("graft-predict-ckpt")
    val q = StreamingJob.runPredict(spark,
      input.toDF().toDF("symbol", "timestamp", "close", "high", "low",
        "total_usd_volume", "total_btc_volume", "num_trades"),
      stats, StreamingJob.Config(out, ckpt), n)
    try {
      feed.grouped((feed.length / 3).max(1)).foreach { chunk =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val got = Upsert.read(spark, s"$out/predictions").get
        .select("symbol", "timestamp", "predicted_close")
        .as[(String, java.sql.Timestamp, Double)].collect().toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("query_05 predict vertical: streamed store serves exactly k7_predict_writeback") {
    // Direct end-to-end closure (VERDICT r15 #5): the streamed
    // lookback→score→Upsert pipeline's SERVED table must equal what the
    // batch two-phase writeback (k7) serves — same n (the production
    // lookbackN=100), same fitted scaler, same store read path. The
    // n=10 spec above covers emission volume; this one pins the exact
    // production contract.
    import spark.implicits._
    val n = graft.ops.Predict.lookbackN
    val trades = Tables.trades(spark, sf)
    val expected = graft.ops.Predict
      .predictWriteback(spark, trades, "spec_k7_direct")
      .as[(String, java.sql.Timestamp, Double)].collect().toSet
    assert(expected.nonEmpty, "k7 must emit at this sf for the spec to bite")

    val bars = graft.ops.TradeOps.slidingFeatures(trades)
    val stats = graft.ops.Predict.scalerStats(bars)
    val feed = bars
      .select(col("symbol"), col("timestamp"), col("close"), col("high"),
        col("low"), col("total_usd_volume"),
        col("total_volume").as("total_btc_volume"), col("num_trades"))
      .as[(String, java.sql.Timestamp, Double, Double, Double, Double, Double, Long)]
      .collect().sortBy(_._2.getTime)
    val input = MemoryStream[(String, java.sql.Timestamp, Double, Double,
      Double, Double, Double, Long)](spark)
    val out = tmpDir("graft-predict-k7-out")
    val ckpt = tmpDir("graft-predict-k7-ckpt")
    val q = StreamingJob.runPredict(spark,
      input.toDF().toDF("symbol", "timestamp", "close", "high", "low",
        "total_usd_volume", "total_btc_volume", "num_trades"),
      stats, StreamingJob.Config(out, ckpt), n)
    try {
      feed.grouped((feed.length / 2).max(1)).foreach { chunk =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val got = Upsert.read(spark, s"$out/predictions").get
        .select("symbol", "timestamp", "predicted_close")
        .as[(String, java.sql.Timestamp, Double)].collect().toSet
      assert(got === expected,
        "streamed predictions store must serve exactly the k7 writeback table")
    } finally q.stop()
  }

  test("streaming cusum: bit-equal to the batch windows across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[TradeEvent](spark)
    val q = Stateful.cusumStream(spark, input.toDS(), h = 15.0).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("cusum_test").start()
    try {
      def ev(i: Int, sym: String, p: Double) =
        TradeEvent(sym, new java.sql.Timestamp(t0 + i * 1000L), p, 1.0)
      // drift up on BTC, drift down on ETH; split MID-DRIFT across
      // batches so the state carryover is what's being tested
      val all = (1 to 5).map(ev(_, "BTC", 100.0)) ++
        (6 to 9).map(ev(_, "BTC", 110.0)) ++
        (1 to 4).map(ev(_, "ETH", 50.0)) ++
        (5 to 8).map(ev(_, "ETH", 43.5))
      val (b1, b2) = all.splitAt(7)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("cusum_test")
        .select("symbol", "ts", "cusum_pos", "cusum_neg", "drifted")
      // the batch form needs (timestamp, event_id) — ts is unique per
      // symbol here, so any constant event_id gives the same order
      val batchIn = all.toDF()
        .select(lit(0L).as("event_id"), col("symbol"),
          col("ts").as("timestamp"), col("price"), col("volume"),
          (col("price") * col("volume")).as("usd_volume"))
      val batch = graft.ops.TradeOps.cusum(batchIn, h = 15.0)
        .select(col("symbol"), col("timestamp").as("ts"),
          col("cusum_pos"), col("cusum_neg"), col("drifted"))
      assert(streamed.count() === all.size)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
      // the down-drift fires the negative side only
      assert(spark.table("cusum_test")
        .filter(col("symbol") === "ETH" && col("drifted"))
        .agg(min("cusum_neg")).head.getDouble(0) > 15.0)
    } finally q.stop()
  }

  test("streaming anomaly: flags the identical rows as the batch windows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[TradeEvent](spark)
    val q = Stateful.anomalyStream(spark, input.toDS()).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("anomaly_test").start()
    try {
      def ev(i: Int, p: Double) =
        TradeEvent("BTC", new java.sql.Timestamp(t0 + i * 1000L), p, 1.0)
      // flat feed with two spikes, the second in a later micro-batch so
      // the ring buffer must carry across batches
      val all = (1 to 60).map { i =>
        ev(i, if (i == 30 || i == 52) 200.0 else 100.0)
      }
      val (b1, b2) = all.splitAt(40)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("anomaly_test")
        .select("symbol", "ts", "price")
      val batchIn = all.toDF()
        .select(lit(0L).as("event_id"), col("symbol"),
          col("ts").as("timestamp"), col("price"), col("volume"),
          (col("price") * col("volume")).as("usd_volume"))
      val batch = graft.ops.TradeOps.anomalyFlags(batchIn)
        .select(col("symbol"), col("timestamp").as("ts"), col("price"))
      assert(streamed.count() === 2) // exactly the two spike rows
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    } finally q.stop()
  }

  test("observe API: per-batch ingest metrics arrive on query progress") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long)]() // (rows, usd_vol_cents) per micro-batch
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get("ingest")
        if (m != null && m.getLong(0) > 0)
          metrics.add((m.getLong(0), m.getLong(1)))
      }
    }
    spark.streams.addListener(listener)
    val input = MemoryStream[TradeEvent](spark)
    val flat = input.toDF()
      .select(col("symbol"), col("ts").as("timestamp"), col("price"),
        col("volume"), (col("price") * col("volume")).as("usd_volume"))
    val q = graft.streaming.StreamingJob.withIngestMetrics(flat)
      .writeStream.outputMode("append")
      .format("memory").queryName("observe_test").start()
    try {
      def ev(i: Int, p: Double, v: Double) =
        TradeEvent("BTC", new java.sql.Timestamp(t0 + i * 1000L), p, v)
      input.addData(ev(1, 100.0, 2.0), ev(2, 50.0, 1.0))
      q.processAllAvailable()
      input.addData(ev(3, 10.0, 10.0))
      q.processAllAvailable()
      // listener delivery is async relative to processAllAvailable
      val deadline = System.nanoTime() + 10_000_000_000L
      while (metrics.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val seen = metrics.toArray(Array.empty[(Long, Long)]).sortBy(_._1)
      assert(seen.length === 2, s"got ${seen.mkString(",")}")
      assert(seen(0) === ((1L, 10000L)))   // 10.0 * 10.0 = 100.00 usd
      assert(seen(1) === ((2L, 25000L)))   // 200.00 + 50.00 usd
    } finally {
      q.stop(); spark.streams.removeListener(listener)
    }
  }
}

/** A checkpoint manager that commits through `java.nio`: its atomic
  * create moves over an existing file whatever the caller asked, and
  * writes no Hadoop `.crc` sidecar. StreamingSpec runs a query on it to
  * show that its checkpoint check fails on such a manager. */
class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = Paths.get(p.toUri.getPath)
    Files.createDirectories(dst.getParent)
    val tmp = Files.createTempFile(dst.getParent, s".${dst.getFileName}", ".tmp")
    new CancellableFSDataOutputStream(Files.newOutputStream(tmp)) {
      private var open = true
      override def cancel(): Unit = { open = false; underlyingStream.close(); Files.deleteIfExists(tmp) }
      override def close(): Unit = if (open) {
        open = false
        super.close()
        Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
