package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every registered query against
  * `SPARK_GRAFT_SF_DIR`, force full materialization through the noop
  * sink (a bare count() would let Catalyst prune the projections we are
  * trying to measure), and print ONE JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().min(32).toString)
    // Shuffle partitions default to the core count (right for the
    // sf0.1 bench tier) but are overridable: per-partition working
    // sets grow linearly with the data at fixed partitioning, and the
    // 100x probe showed the consequence (execution-memory exhaustion
    // in the PageRank contribution aggregate at 32 partitions x 1.2B
    // rows). Sizing partitions to the data, not the cores, is the
    // standard first lever on a real cluster.
    val shufflePartitions = sys.env.getOrElse(
      "SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // Contention guard (VERDICT r10 #6): a loaded host uniformly
    // inflates every query ~1.2x with no plan change (seen rounds
    // 7/9/10) — numbers from such a run are not comparable to a floor.
    // Record 1-min loadavg before/after in the artifact and flag the
    // run when it STARTED hot, institutionalizing the manual
    // idle-host adjudication habit.
    def loadAvg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadBefore = loadAvg()
    // Host-speed canary (r16): a fixed single-threaded integer loop
    // timed before Spark starts. The r15→r16 adjudication showed the
    // HOST can drift ~35% between rounds with zero code change (the
    // same r14-era jar reproduced the "regression" — kernel/sandbox
    // epoch, not plans). Recording a pure-CPU reference time in every
    // artifact lets round-over-round ratios be normalized to host
    // speed instead of mis-read as code regressions. xorshift64*, 2^28
    // iterations, min of 3 (first run JITs); the final fold prevents
    // dead-code elimination.
    def canary(): Double = {
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        var x = 88172645463325252L
        var acc = 0L
        var i = 0
        while (i < (1 << 28)) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          acc += x
          i += 1
        }
        ((System.nanoTime() - t0) / 1e9, acc)
      }
      val rs = (1 to 3).map(_ => run())
      if (rs.map(_._2).distinct.size != 1)
        System.err.println("[bench] canary accumulator mismatch")
      rs.map(_._1).min
    }
    val canarySec = canary()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/codegen warmup: run every query once at the smallest sf so the
    // timed pass measures the steady-state plan, not first-run JVM/codegen
    // compilation of each query's generated classes.
    // min-of-N per query: single-shot timings at sf0.1 vary ~40% run to
    // run (GC pauses, state-store/localCheckpoint churn from earlier
    // queries in the session) — round-over-round comparisons need the
    // floor, not one sample. SPARK_GRAFT_ONLY=a,b narrows the set for
    // local iteration.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val warmDir = "/root/testdata/sf0.001"
    // Stage the single-row-group testdata as splittable multi-file
    // parquet (production input shape — see Tables.withStaged); the
    // staged copy is deleted after the timed pass, outside its timings.
    val results: Seq[(String, Either[String, Double])] =
      Tables.withStaged(spark, sfDir) { benchDir =>
        SparkEntry.queries
          .filter { case (name, _) => only.forall(_.contains(name)) }
          .foreach { case (_, fn) =>
            try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
            catch { case _: Throwable => () }
          }
        // Quiesce between warmup and the timed pass, so the timings measure
        // the computation: the full-registry warmup leaves thousands of dead
        // shuffle/broadcast/localCheckpoint references that the
        // ContextCleaner only discovers at the FIRST major GC — which,
        // un-quiesced, lands minutes into the timed pass and inflates
        // whichever (alphabetically adjacent) queries it lands on by
        // 5-30 s (three baseline runs each showed 2-3 such spikes on
        // queries whose solo min-of-3 is 0.3-0.7 s). Force the collection
        // NOW and give the cleaner thread a bounded drain window so the
        // storm is spent before the first timed query. Same queries, same
        // noop sink, same min-of-N — this only moves unrelated JVM
        // housekeeping out of the measured region.
        (1 to 3).foreach { _ => System.gc(); Thread.sleep(1500) }
        // A query whose rep throws must record "err", NEVER a number: a past
        // loader break made 102 queries fail-fast in ~50 ms each, and the old
        // code posted those as min-of-3 "times" — a bench that improves
        // because the code stopped running is a benchmark-integrity bug.
        SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (name, _) => only.forall(_.contains(name)) }
          .map { case (name, fn) =>
            val times = (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              try {
                fn(spark, benchDir).write.format("noop").mode("overwrite").save()
                Right((System.nanoTime() - t0) / 1e9)
              } catch { case e: Throwable =>
                System.err.println(s"[bench] $name failed: ${e.getMessage}")
                Left(Option(e.getMessage).getOrElse(e.getClass.getName))
              }
            }
            val ok = times.collect { case Right(t) => t }
            // any failed rep poisons the query: partial timings are not
            // comparable to full min-of-N
            name -> (if (ok.size == reps) Right(ok.min)
                     else Left(times.collectFirst { case Left(m) => m }.get))
          }
      }
    // Per-query values printed at ms precision (3 decimals): the full
    // 9-decimal line (~12 KB at 369 queries) overflowed the driver's
    // stdout-tail capture two rounds running (BENCH_r16 parsed:null →
    // PERF n_common:0), hiding every round-over-round comparison. The
    // noise floor is ±10%, so nothing real lives below a millisecond.
    // Timing methodology, query set, and the one-line contract are
    // unchanged — this only shortens the serialized digits.
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map {
      case (k, Right(v)) => "\"" + k + "\":" + ms(v)
      case (k, Left(_))  => "\"" + k + "\":\"err\""
    }.mkString("{", ",", "}")
    val failedNames = results.collect { case (k, Left(_)) => k }
    val total = results.collect { case (_, Right(v)) => v }.sum
    val loadAfter = loadAvg()
    // Contention threshold scales with the host (ADVICE r11): default
    // 0.0625 load-per-core — exactly the historical 2.0 on the 32-way
    // reference host, so artifacts stay comparable — overridable via
    // SPARK_GRAFT_LOAD_THR for CI runners with known background load.
    // Malformed override must not abort the whole bench (ADVICE r12):
    // warn and fall back to the host-scaled default.
    val loadThr = sys.env.get("SPARK_GRAFT_LOAD_THR")
      .flatMap { s =>
        val p = scala.util.Try(s.toDouble).toOption
        if (p.isEmpty) System.err.println(
          s"[bench] WARNING: ignoring malformed SPARK_GRAFT_LOAD_THR='$s'")
        p
      }
      .getOrElse(0.0625 * Runtime.getRuntime.availableProcessors())
    val contended = loadBefore > loadThr
    val line =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","failed":${failedNames.size},"load_before":$loadBefore,"load_after":$loadAfter,"contended":$contended,"canary_sec":${ms(canarySec)},"cpus":${cpus.toInt},"shuffle_partitions":${shufflePartitions.toInt},"queries":$qs,"sf":"$sfDir"}"""
    if (contended)
      System.err.println(
        s"[bench] WARNING: started at loadavg $loadBefore (>$loadThr) — timings " +
          "likely inflated by host contention; re-run on an idle host " +
          "before comparing to a floor")
    if (failedNames.nonEmpty)
      System.err.println(
        s"[bench] ${failedNames.size} queries FAILED: ${failedNames.mkString(", ")}")
    println(line)
    // Also persist the complete per-query JSON: the driver's captured
    // stdout tail has truncated mid-object before (BENCH_r05), hiding
    // per-query rows from round-over-round comparison.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
      java.nio.file.Files.writeString(out, line)
      // Every run ALSO lands a timestamped copy under bench_runs/ next
      // to the primary artifact: the driver's post-round rerun writes
      // the default path and has now clobbered a committed floor's
      // working-tree twin three rounds running (VERDICT r15 #3) — with
      // the copy, no bench result is ever one `git checkout` from gone.
      val dir = Option(out.toAbsolutePath.getParent).getOrElse(
        java.nio.file.Paths.get("."))
      val runs = dir.resolve("bench_runs")
      java.nio.file.Files.createDirectories(runs)
      java.nio.file.Files.writeString(
        runs.resolve(s"bench_${System.currentTimeMillis()}.json"), line)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
