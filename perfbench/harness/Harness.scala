package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.ingest.Decode
import graft.sinks.Upsert
import graft.streaming.StreamingJob

/** The JVM side of the pipeline benchmark. `run.py` generates the inputs,
  * starts this process, and turns the files it leaves in the work
  * directory into metrics:
  *
  *  - `progress.jsonl` every streaming progress event,
  *  - `jvm.json`      phase and set-up times, dashboard reads, backfill
  *                    timings, query failures,
  *  - `engine.json`   scheduler counters by query (traced runs),
  *  - `spans.jsonl`   spans around the calls into each layer (traced runs).
  *
  * The program is driven only through its public functions:
  * `StreamingJob.run`, `Upsert.read`/`currentVersion`,
  * `Decode.decodeFlatten` and `SparkEntry.queries`.
  *
  * Usage: Harness <workload> <workDir> <seed> <seconds> <trace 0|1> <cores>
  *          <backfill query names, comma-separated> <backlog's first event ms>
  *          <set-ups> <replay files per trigger>
  */
object Harness {

  final case class Args(workload: String, work: Path, seed: Long,
      seconds: Int, trace: Boolean, cores: Int, backfillQueries: Seq[String],
      backlogFromMs: Long, setupRepeats: Int, filesPerTrigger: Int)

  private val errors = new ConcurrentLinkedQueue[String]()
  private val phases = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val extra = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Ids of the streaming queries whose batches the run measures. */
  private val measured = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Where the DAG being measured keeps `out/` and `ckpt/`: the work dir,
    * or `probe/` for the backfill's traced stream probe. */
  @volatile private var streamBase: Path = _

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), Paths.get(argv(1)).toAbsolutePath, argv(2).toLong,
      argv(3).toInt, argv(4) == "1", argv(5).toInt, argv(6).split(",").toSeq,
      argv(7).toLong, argv(8).toInt, argv(9).toInt)
    phases.put("jvm_start_ms", Clock.nowMs)
    val canaryS = canary()
    phases.put("canary_end_ms", Clock.nowMs)
    extra.put("canary_s", f"$canaryS%.6f")
    streamBase = a.work
    val spans = new Spans(s"${a.workload}-${a.seed}", a.trace)
    val rewrites = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Int]]()
    val stores = Seq("volume_tracking", "price_tracking")
    val progress = new ProgressLog((name, _) =>
      if (a.trace && stores.contains(name))
        StoreWalk.rewritten(streamBase.resolve("out").resolve(name)).foreach(n =>
          rewrites.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Int]()).add(n)))
    val engine = new EngineLog(progress.names, measured)
    // The set-up (a fresh Spark session and the workload's warm-up) runs
    // `setupRepeats` times, and `run.py` reports the median; the first
    // also pays for a cold JVM. The last session is the one measured.
    var spark: SparkSession = null
    val setupMs = (0 until a.setupRepeats).map { i =>
      val t0 = Clock.nowMs
      if (spark != null) spark.stop()
      spark = session(a.cores, a.work)
      spark.streams.addListener(progress)
      if (a.trace) spark.sparkContext.addSparkListener(engine)
      a.workload match {
        case "replay_backlog" => warmReplay(spark, a, i)
        case "backfill_batch" => warmBackfill(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Clock.nowMs - t0
    }
    extra.put("setup_ms", setupMs.map(ms => f"$ms%.3f").mkString("[", ",", "]"))
    quiesce()

    val reads: Seq[(Double, Double, Boolean)] =
      if (a.workload == "replay_backlog") replay(spark, a, spans) else backfill(spark, a, spans)
    // what the measured work left on disk, before any traced-run probe
    val kept = if (a.workload == "backfill_batch") Seq("out", "tmp") else Seq("out", "ckpt")
    extra.put("disk_bytes", kept.map(d => du(a.work.resolve(d))).sum.toString)

    if (a.trace) {
      // every layer is measured in every traced run: the layers the
      // workload does not exercise run once, after the measured region,
      // on a small fixed input
      if (a.workload == "backfill_batch") {
        streamBase = a.work.resolve("probe")
        val qs = startDag(spark, a, a.work.resolve("probe_backlog"), streamBase)
        measure(qs)
        drain(qs)
        qs.foreach(_.stop())
        decodeProbe(spark, a.work.resolve("probe_backlog").toString, spans)
      } else {
        decodeProbe(spark, a.work.resolve("backlog").toString, spans)
        val t = spans.time("ops.round")(rid => querySet(spark, a.backfillQueries,
          a.work.resolve("warm_hist"), a.work.resolve("probe/ops"), spans, rid, round = -1))._1
        extra.put("backfill", t.mkString("[", ",", "]"))
      }
    }
    if (a.trace) Files.writeString(a.work.resolve("engine.json"), engine.json)
    progress.write(a.work.resolve("progress.jsonl"))
    if (a.trace) {
      // single-thread baseline of the workload's unit of work, on a fresh
      // local[1] session (JIT and codegen caches are already warm)
      spark.stop()
      val base = a.work.resolve("local1")
      spark = session(1, base)
      val t0 = Clock.nowMs
      if (a.workload == "backfill_batch") {
        copyTree(a.work.resolve("hist"), base.resolve("hist"))
        querySet(spark, a.backfillQueries, base.resolve("hist"), base.resolve("out"),
          new Spans("local1", keep = false), 0)
      } else {
        val qs = startDag(spark, a, a.work.resolve("backlog"), base)
        qs.foreach(_.processAllAvailable())
        qs.foreach(_.stop())
      }
      extra.put("local1_ms", f"${Clock.nowMs - t0}%.3f")
    }
    spans.write(a.work.resolve("spans.jsonl"))
    progress.terminated.asScala.foreach(t => errors.add(s"query terminated: $t"))

    val readsJson = reads.map { case (s, ms, ok) => f"[$s%.3f,$ms%.3f,$ok]" }.mkString(",")
    val phasesJson = phases.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => f"${jstr(k)}:$v%.3f" }.mkString(",")
    val extraJson = extra.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString(",")
    val rewritesJson = rewrites.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:[${v.asScala.mkString(",")}]" }.mkString(",")
    Files.writeString(a.work.resolve("jvm.json"),
      s"""{"phases":{$phasesJson},"reads":[$readsJson],"extra":{$extraJson},""" +
        s""""rewrites":{$rewritesJson},"errors":[${errors.asScala.map(jstr).mkString(",")}]}""")
    spark.stop()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The four queries over a file-source directory of envelope files, a
    * fixed number of files a batch, so batch boundaries (and the work and
    * bytes per batch) are the same on every run. Each query keeps its own
    * source offsets; see perfbench/README.md for why not a `MemoryStream`. */
  private def startDag(spark: SparkSession, a: Args, input: Path, base: Path): Seq[StreamingQuery] =
    StreamingJob.run(spark,
      spark.readStream.option("maxFilesPerTrigger", a.filesPerTrigger.toLong).text(input.toString),
      StreamingJob.Config(base.resolve("out").toString, base.resolve("ckpt").toString))

  /** Between warm-up and the measured region, as graft.Bench does: let
    * the warm-up's garbage be collected and the JIT compiler queue drain,
    * so neither competes with the measured work for the cores. */
  private def quiesce(): Unit = {
    System.gc()
    Thread.sleep(1000)
  }

  /** Marks `qs` as the queries the run measures. */
  private def measure(qs: Seq[StreamingQuery]): Unit = {
    qs.foreach(q => measured.add(q.id.toString))
    extra.put("run_ids", qs.map(q => "\"" + q.runId + "\"").mkString("[", ",", "]"))
  }

  /** Both file-sink queries need a no-data batch after the last data
    * batch to emit the windows the final watermark closed; wait for the
    * queries to go quiet, twice, so that batch has run. */
  private def drain(qs: Seq[StreamingQuery]): Unit = {
    qs.foreach(_.processAllAvailable())
    Thread.sleep(300)
    qs.foreach(_.processAllAvailable())
  }

  /** Dashboard reads each set-up makes, untimed, so that the timed reads
    * run on a compiled read path. The JIT keeps compiling a read path
    * for hundreds of reads: without these, the timed reads fell from
    * about 140 to 90 ms within a run, and their median moved with how far
    * along that curve a run had got. */
  private val WarmReads = 8

  /** Replay warm-up: drains a small backlog through a throwaway DAG so
    * codegen and JIT are done before the measured drain, then reads the
    * throwaway store as the dashboard will read the measured one. */
  private def warmReplay(spark: SparkSession, a: Args, i: Int): Unit = {
    val base = a.work.resolve(s"warm$i")
    val warm = startDag(spark, a, a.work.resolve("warm_backlog"), base)
    warm.foreach(_.processAllAvailable())
    warm.foreach(_.stop())
    val read = priceRead(spark, base.resolve("out/price_tracking").toString, a.backlogFromMs) _
    val rnd = new java.util.Random(a.seed + i)
    (1 to WarmReads).foreach(_ => read(rnd))
  }

  private def replay(spark: SparkSession, a: Args,
      spans: Spans): Seq[(Double, Double, Boolean)] = {
    phases.put("measure_start_ms", Clock.nowMs)
    val qs = startDag(spark, a, a.work.resolve("backlog"), a.work)
    measure(qs)
    spans.time("streaming.drain")(_ => drain(qs))
    qs.foreach(_.stop())
    // then dashboard reads of the caught-up store
    dashboardReads(spark, a, spans,
      priceRead(spark, a.work.resolve("out/price_tracking").toString, a.backlogFromMs))
  }

  /** Closed-loop reads after the measured writes, for 0.4 of the run
    * seconds (about 35 replay or 19 backfill reads at 8 s). The writes'
    * garbage is collected and two untimed reads plan the read of this
    * store first, as graft.Bench quiesces between phases: reads during
    * the writes landed on or between micro-batches by chance, which made
    * their median flip from run to run. A read that throws counts as
    * failed and is not retried. */
  private def dashboardReads(spark: SparkSession, a: Args, spans: Spans,
      read: java.util.Random => Int): Seq[(Double, Double, Boolean)] = {
    val rnd = new java.util.Random(a.seed)
    spark.sparkContext.setLocalProperty("perfbench.tag", "dashboard")
    quiesce()
    (1 to 2).foreach(_ => read(rnd))
    val end = Clock.nowMs + a.seconds * 400.0
    val reads = Iterator.continually(Clock.nowMs).takeWhile(_ < end).map { s =>
      try {
        spans.time("sink.upsert.read")(_ => read(rnd))
        (s, Clock.nowMs - s, true)
      } catch { case e: Throwable =>
        errors.add(s"dashboard read: ${e.getClass.getSimpleName}: ${e.getMessage}")
        (s, Clock.nowMs - s, false)
      }
    }.toVector
    spark.sparkContext.setLocalProperty("perfbench.tag", null)
    reads
  }

  /** Backfill warm-up on a different, small history: every query planned
    * and run once, so the timed calls see no first-run codegen — but the
    * session-scoped stores (k7, s7) are keyed by input directory and so
    * are built again, inside the timed call, for each timed input. */
  private def warmBackfill(spark: SparkSession, a: Args): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.tag", "warmup")
    val warmDir = a.work.resolve("warm_hist").toString
    a.backfillQueries.foreach { n =>
      SparkEntry.queries(n)(spark, warmDir).write.format("noop").mode("overwrite").save()
    }
    (1 to WarmReads).foreach(_ => historyRead(spark, warmDir))
    sc.setLocalProperty("perfbench.tag", null)
  }

  private def backfill(spark: SparkSession, a: Args,
      spans: Spans): Seq[(Double, Double, Boolean)] = {
    phases.put("measure_start_ms", Clock.nowMs)
    // one round of the set per 4 run seconds, each over a fresh copy of
    // the history in a new directory, so every timed call that builds a
    // session-scoped store pays for it as a first user does
    val rounds = math.max(1, a.seconds / 4)
    val timings = (0 until rounds).flatMap { round =>
      val dir = a.work.resolve(s"hist_r$round")
      copyTree(a.work.resolve("hist/events.parquet"), dir.resolve("events.parquet"))
      val (t, roundMs) = spans.time("ops.round") { rid =>
        querySet(spark, a.backfillQueries, dir, a.work.resolve(s"out/r$round"), spans, rid, round)
      }
      t :+ f"""{"round":$round,"query":"_round","ms":$roundMs%.3f,"ok":true}"""
    }
    extra.put("backfill", timings.mkString("[", ",", "]"))
    val dir = a.work.resolve(s"hist_r${rounds - 1}")
    // then Grafana-style history reads of the keyed store the last round built
    dashboardReads(spark, a, spans, _ => historyRead(spark, dir.toString))
  }

  /** A Grafana-style history read of the keyed store built over `dir`. */
  private def historyRead(spark: SparkSession, dir: String): Int =
    SparkEntry.queries("s7_keyed_point_read")(spark, dir).collect().length

  /** Runs the backfill query set once over the history in `dir`, each
    * query timed and its output written under `out` for the oracle check.
    * Returns one JSON timing record per query. */
  private def querySet(spark: SparkSession, names: Seq[String], dir: Path, out: Path, spans: Spans,
      parent: Long, round: Int = 0): Seq[String] = {
    val sc = spark.sparkContext
    val t = names.map { n =>
      val (err, ms) = spans.time(s"ops.$n", parent) { _ =>
        sc.setLocalProperty("perfbench.tag", s"ops.$n")
        try {
          SparkEntry.queries(n)(spark, dir.toString).write.mode("overwrite")
            .parquet(out.resolve(n).toString)
          None
        } catch { case e: Throwable => Some(s"$n: ${e.getMessage}") }
      }
      err.foreach(errors.add)
      f"""{"round":$round,"query":"$n","ms":$ms%.3f,"ok":${err.isEmpty}}"""
    }
    sc.setLocalProperty("perfbench.tag", null)
    val oracle = names.map(n => s"${jstr(n)}:${jstr(SparkEntry.oracleSql(n))}")
    extra.put("oracle", oracle.mkString("{", ",", "}"))
    t
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The host-speed canary `graft.Bench` records: a fixed single-thread
    * xorshift loop of 2^28 iterations, timed after a short pass that
    * lets the JIT compile it. */
  private def canary(): Double = {
    def once(n: Int): (Double, Long) = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x
        i += 1
      }
      ((System.nanoTime() - t0) / 1e9, acc)
    }
    once(1 << 24)
    once(1 << 28)._1
  }

  /** Times `Decode.decodeFlatten` alone on the run's envelope files. */
  private def decodeProbe(spark: SparkSession, dir: String, spans: Spans): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.tag", "ingest.decode")
    val env = spark.read.text(dir)
    val times = (1 to 3).map { _ =>
      spans.time("ingest.decode")(_ =>
        Decode.decodeFlatten(env).write.format("noop").mode("overwrite").save())._2
    }
    extra.put("decode", f"""{"ms":${times.sorted.apply(1)}%.3f,"rows_in":${env.count()},""" +
      s""""rows_out":${Decode.decodeFlatten(env).count()}}""")
    spark.sparkContext.setLocalProperty("perfbench.tag", null)
  }

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def copyTree(from: Path, to: Path): Unit =
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      val s = Files.list(from)
      try s.iterator().asScala.foreach(p => copyTree(p, to.resolve(p.getFileName.toString)))
      finally s.close()
    } else Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)

  /** One symbol's minute of `price_tracking` from `fromMs`, read through
    * the store's public reader. */
  private def priceRead(spark: SparkSession, root: String, fromMs: Long)(
      rnd: java.util.Random): Int = {
    val sym = Symbols.name(rnd.nextInt(Symbols.count))
    Upsert.read(spark, root).getOrElse(throw new IllegalStateException(s"no store at $root"))
      .filter(col("symbol") === sym &&
        col("timestamp").between(new Timestamp(fromMs), new Timestamp(fromMs + 60000)))
      .select("timestamp", "price").collect().length
  }
}

/** Symbol names shared with the generator (`gen.py`). */
object Symbols {
  val count = 50
  def name(i: Int): String = f"BINANCE:S$i%02dUSDT"
}

/** Reads a keyed store's manifests from disk (the documented layout:
  * `_CURRENT` names the version, `manifest_v<N>.json` maps bucket to
  * generation) to count the buckets the latest merge rewrote. */
object StoreWalk {
  private val entry = """"(\d+)"\s*:\s*"([^"]+)"""".r
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def buckets(root: Path, v: Long): Map[Int, String] = {
    val p = root.resolve(s"manifest_v$v.json")
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.readString(p)
      entry.findAllMatchIn(s.drop(s.indexOf("buckets")))
        .map(m => m.group(1).toInt -> m.group(2)).toMap
    }
  }

  /** Buckets whose generation changed between the current version and
    * the one before; None if this version was already counted. */
  def rewritten(root: Path): Option[Int] =
    try {
      Upsert.currentVersion(root.toString).filter(v => seen.add(s"$root@$v")).map { v =>
        val now = buckets(root, v)
        val before = buckets(root, v - 1)
        now.count { case (b, g) => !before.get(b).contains(g) }
      }
    } catch { case _: java.io.IOException => None }
}
