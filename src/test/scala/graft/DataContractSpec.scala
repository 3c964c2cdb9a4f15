package graft

import org.apache.spark.sql.types._

/** Guard on the driver-generated testdata contract (TESTDATA.md).
  *
  * The driver regenerated `/root/testdata` mid-round-7 and changed
  * `events.ts` from INT64 TIMESTAMP(NANOS) to native TIMESTAMP(MICROS,
  * NTZ); the loader's hard-coded nanos workaround then broke 102 of 208
  * queries with 59 anonymous test failures. This spec pins the contract:
  * one NAMED test per table asserting the expected columns and the set
  * of on-disk types the loaders are built to absorb, so the next silent
  * regeneration fails here first with a message naming the table and
  * column that moved.
  */
class DataContractSpec extends SparkSuite {

  /** column → types the engine's loaders accept for it */
  private type Contract = Seq[(String, Set[DataType])]

  private val exact: DataType => Set[DataType] = Set(_)
  private def intOrLong: Set[DataType] = Set(IntegerType, LongType)
  // every timestamp format the driver has shipped; Tables.events adapts —
  // LongType (raw INT64 nanos) is accepted ONLY for events.ts, because
  // Tables.events is the one loader with a schema-adaptive branch
  private def anyTs: Set[DataType] =
    Set(LongType, TimestampType, TimestampNTZType)
  // orders/lineitem go through the plain Tables.load parquet read: a
  // regeneration shipping raw INT64 dates would pass a LongType-wide
  // contract while breaking every date operator — pin them to the
  // timestamp family so that regeneration fails HERE with a named test
  private def loadedTs: Set[DataType] = Set(TimestampType, TimestampNTZType)

  private val contracts: Map[String, Contract] = Map(
    "region" -> Seq("r_regionkey" -> intOrLong, "r_name" -> exact(StringType)),
    "nation" -> Seq("n_nationkey" -> intOrLong, "n_name" -> exact(StringType),
      "n_regionkey" -> intOrLong),
    "customer" -> Seq("c_custkey" -> intOrLong, "c_name" -> exact(StringType),
      "c_nationkey" -> intOrLong, "c_acctbal" -> exact(DoubleType),
      "c_mktsegment" -> exact(StringType)),
    "supplier" -> Seq("s_suppkey" -> intOrLong, "s_name" -> exact(StringType),
      "s_nationkey" -> intOrLong, "s_acctbal" -> exact(DoubleType)),
    "part" -> Seq("p_partkey" -> intOrLong, "p_name" -> exact(StringType),
      "p_brand" -> exact(StringType), "p_type" -> exact(StringType),
      "p_size" -> intOrLong, "p_retailprice" -> exact(DoubleType)),
    "orders" -> Seq("o_orderkey" -> intOrLong, "o_custkey" -> intOrLong,
      "o_orderstatus" -> exact(StringType), "o_totalprice" -> exact(DoubleType),
      "o_orderdate" -> loadedTs, "o_orderpriority" -> exact(StringType)),
    "lineitem" -> Seq("l_orderkey" -> intOrLong, "l_partkey" -> intOrLong,
      "l_suppkey" -> intOrLong, "l_linenumber" -> intOrLong,
      "l_quantity" -> exact(DoubleType), "l_extendedprice" -> exact(DoubleType),
      "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
      "l_returnflag" -> exact(StringType), "l_linestatus" -> exact(StringType),
      "l_shipdate" -> loadedTs),
    "events" -> Seq("event_id" -> intOrLong, "ts" -> anyTs,
      "user_id" -> intOrLong, "event_type" -> exact(StringType),
      "value" -> exact(DoubleType), "props" -> exact(StringType)),
    "documents" -> Seq("doc_id" -> intOrLong, "text" -> exact(StringType),
      "lang" -> exact(StringType), "source" -> exact(StringType),
      "n_chars" -> intOrLong),
    "embeddings" -> Seq("vec_id" -> intOrLong,
      "embedding" -> Set[DataType](ArrayType(FloatType), ArrayType(FloatType, containsNull = false)),
      "label" -> intOrLong))

  for ((table, contract) <- contracts.toSeq.sortBy(_._1))
    test(s"testdata contract: $table") {
      val schema = Tables.load(spark, sf, table).schema
      for ((colName, accepted) <- contract) {
        assert(schema.fieldNames.contains(colName),
          s"$table is missing column '$colName' " +
            s"(on disk: ${schema.fieldNames.mkString(", ")})")
        val actual = schema(colName).dataType
        assert(accepted.contains(actual),
          s"$table.$colName has on-disk type $actual; the loaders accept " +
            s"${accepted.mkString(" | ")}. If the driver regenerated the " +
            "testdata with a new type, extend the matching loader branch " +
            "(see Tables.events) AND this contract.")
      }
    }

  test("testdata contract: Tables.events normalizes ts to TimestampType") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType === TimestampType,
      "every downstream trade operator assumes TimestampType — " +
        "Tables.events must absorb whatever format is on disk")
    assert(df.count() > 0)
  }

  test("testdata contract: trades view shape is stable") {
    val t = Tables.trades(spark, sf)
    assert(t.columns.toSeq === Seq("event_id", "user_id", "symbol",
      "timestamp", "price", "volume", "usd_volume"))
    assert(t.schema("timestamp").dataType === TimestampType)
    assert(t.schema("price").dataType === DoubleType)
    assert(t.schema("volume").dataType === DoubleType)
  }

  test("Tables.withStaged leaves no staged copy after its body returns or throws") {
    val staged = Tables.withStaged(spark, sf) { dir =>
      assert(new java.io.File(dir, "events.parquet").isDirectory)
      assert(Tables.events(spark, dir).count() === Tables.events(spark, sf).count())
      dir
    }
    assert(!new java.io.File(staged).exists(), s"$staged left behind")
    var seen = ""
    intercept[IllegalStateException] {
      Tables.withStaged(spark, sf) { dir =>
        seen = dir
        throw new IllegalStateException("body failed")
      }
    }
    assert(seen.nonEmpty && !new java.io.File(seen).exists(),
      s"$seen left behind after the body threw")
  }
}
