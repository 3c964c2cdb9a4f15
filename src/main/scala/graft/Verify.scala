package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // `--sql-only <outDir>` dumps oracle_sql.json without executing any
    // query (no SparkSession needed) — feeds tools/check_oracle_types.py,
    // the gate that kills the DuckDB HUGEINT hash-break class.
    if (args.headOption.contains("--sql-only")) {
      val dir = args.lift(1).getOrElse {
        System.err.println("usage: graft.Verify --sql-only <outDir>")
        sys.exit(2)
      }
      new java.io.File(dir).mkdirs()
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), oracleJson)
      return
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle parallelism decouples from cores for SCALE runs: at the
    // 100× rehearsal, cores-many partitions make multi-GiB cached
    // blocks (the r14 sf10 run lost the shared kNN-graph checkpoint to
    // exactly that — blocks too big to cache, spill-serialize cascade).
    // Partition count must track DATA, not host width — and since r15
    // (verdict directive #1) the DEFAULT is derived from the input
    // bytes themselves (~16 MB of compressed parquet per partition,
    // floor = cores, cap 2048) instead of relying on an env var a
    // scale run can forget: sf0.1 and below resolve to exactly the old
    // cores default, sf10 resolves to ~96. SPARK_GRAFT_SHUFFLE still
    // overrides for experiments.
    val inputBytes: Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum)
          .getOrElse(0L)
        else f.length
      walk(new java.io.File(sfDir))
    }
    val dataShuffle = math.min(2048L,
      math.max(cpus.toLong, inputBytes / (16L << 20))).toString
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", dataShuffle)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs just those
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Failures must be LOUD: r7's testdata regeneration broke 102 queries
    // and this loop's stderr-only handling let the round's correctness
    // artifact silently shrink to the surviving half. Collect every
    // failure into failed.json (name → message) so the driver — and any
    // human — sees a red row per broken query, and exit non-zero.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // start marker BEFORE execution: when a scale run is killed or
      // dies (disk, OOM), the log names the in-flight query — the
      // r17 sf10 rehearsal burned an hour identifying a runaway hog
      // because only COMPLETED dumps were observable
      System.err.println(s"[verify] start $name")
      // repartition(1), NOT coalesce(1): coalesce narrows the final
      // stage to one task, fusing any post-shuffle per-row compute
      // (the fuzzy tier's bounded Levenshtein DP) into a single
      // thread — at the 100x corpus that serialized hours of work
      // into the write task (r17 sf10 rehearsal, caught via jstack:
      // one RUNNABLE worker in levenshteinDistance inside
      // FileFormatDataWriter). repartition inserts a shuffle barrier
      // so upstream stages keep their parallelism; the dump is still
      // one parquet file and the oracle compare is order-insensitive.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
        .mkString("{", ",", "}"))
    // Loud but not fatal: a non-zero exit could make the driver discard
    // the good dumps; failed.json + the FAILED summary line are the signal.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
