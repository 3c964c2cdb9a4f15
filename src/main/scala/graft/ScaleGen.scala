package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of a driver testdata dir (TESTDATA.md) —
  * the SCALE REHEARSAL input: sf0.1 × 10 ≈ sf1 (1M events, 6M
  * lineitem), generated locally so the heaviest queries can be
  * exercised one decade above the bench tier and checked for plan flips
  * (broadcast thresholds exceeded, driver-finish branches taken, guard
  * saturation, super-linear blowups).
  *
  * Scaling is COPY-BASED and deterministic (no RNG): `factor` copies of
  * each fact table with key offsets of `copy * (max_key + 1)`, so copy 0
  * is bit-identical to the source and every derived-column contract
  * (e.g. `volume = f(event_id) % 97` — [[Tables.trades]]) keeps its
  * distribution.
  *
  *  - `events`: event_id offset per copy; ts shifted +137 ms per copy
  *    (keeps timestamps distinct, preserves windowing); user_id kept —
  *    10× history per user, the realistic growth axis for the
  *    window-partitioned serving queries.
  *  - `orders`/`lineitem`: o_orderkey/l_orderkey offset per copy (FK
  *    consistency); all other columns kept, so dimension joins fan out
  *    10× like a real fact-table decade.
  *  - dimensions (`region nation customer supplier part`): copied as-is.
  */
object ScaleGen {

  private def offsetCopies(df: DataFrame, keyCols: Seq[String], factor: Int,
      extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
    val maxKey = df.agg(max(col(keyCols.head))).head().getLong(0) + 1
    (0 until factor).map { c =>
      val shifted = keyCols.foldLeft(df)((d, k) =>
        d.withColumn(k, col(k) + lit(c * maxKey)))
      extra(shifted, c)
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().min(32).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // events via the schema-adaptive loader so ts lands as TIMESTAMP
    // regardless of the source's on-disk flavor
    write("events",
      offsetCopies(Tables.events(spark, src), Seq("event_id"), factor,
        (d, c) => d.withColumn("ts",
          timestamp_micros(unix_micros(col("ts")) + lit(c * 137000L)))),
      32)

    write("orders",
      offsetCopies(Tables.load(spark, src, "orders"), Seq("o_orderkey"),
        factor), 32)
    write("lineitem",
      offsetCopies(Tables.load(spark, src, "lineitem"), Seq("l_orderkey"),
        factor), 32)

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(t, Tables.load(spark, src, t), 1)
    }
    println(s"""{"scale_gen":"done","src":"$src","out":"$out","factor":$factor}""")
    spark.stop()
  }
}
