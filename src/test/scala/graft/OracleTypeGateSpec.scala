package graft

import java.nio.file.{Files, Paths}
import scala.sys.process._

/** Runs `tools/check_oracle_types.py` — the gate that kills the DuckDB
  * HUGEINT hash-break class — inside `sbt test`, so an oracle edit that
  * skips the manual pre-verify step still hits a red test.
  *
  * The oracle JSON is written directly from [[SparkEntry.oracleSql]]
  * (same serialization as Verify `--sql-only`, no SparkSession needed);
  * the python tool DESCRIBEs each statement in DuckDB against the real
  * sf0.001 parquet and fails on any disallowed result type. DuckDB is a
  * DEV-LOOP dependency only (the driver's own oracle engine, never
  * imported by the shipped library) — if the python module is absent in
  * some environment the test cancels instead of failing, and the
  * driver's standalone gate run still covers it.
  */
class OracleTypeGateSpec extends SparkSuite {

  private def haveDuckdb: Boolean =
    try Process(Seq("python3", "-c", "import duckdb")).! == 0
    catch { case _: Throwable => false }

  test("every registry query has an oracle and every oracle a query") {
    val (q, o) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("oracle type gate: all registered oracles type as driver-safe") {
    assume(haveDuckdb, "python3+duckdb not available; driver gate covers this")
    val dir = Files.createTempDirectory("oracle_gate")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(dir.resolve("oracle_sql.json"), json)
    val out = new StringBuilder
    val code = Process(Seq("python3", "tools/check_oracle_types.py",
      sf, dir.resolve("oracle_sql.json").toString),
      new java.io.File("/root/repo"))
      .!(ProcessLogger(l => out.append(l).append('\n')))
    assert(code === 0, s"oracle type gate failed:\n$out")
  }

  test("oracle type gate: fails red on a deliberately-uncast probe") {
    assume(haveDuckdb, "python3+duckdb not available; driver gate covers this")
    val dir = Files.createTempDirectory("oracle_gate_probe")
    // count(*) types as HUGEINT-free BIGINT in DuckDB, but sum() of a
    // BIGINT promotes to HUGEINT — the exact class the gate exists for
    Files.writeString(dir.resolve("oracle_sql.json"),
      """{"probe_uncast": "SELECT sum(l_orderkey) AS s FROM lineitem"}""")
    val code = Process(Seq("python3", "tools/check_oracle_types.py",
      sf, dir.resolve("oracle_sql.json").toString),
      new java.io.File("/root/repo")).!(ProcessLogger(_ => ()))
    assert(code !== 0,
      "the gate passed an uncast sum(BIGINT) — it should flag HUGEINT")
  }

  // same escape set as Verify.q — control chars would break json.load
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
