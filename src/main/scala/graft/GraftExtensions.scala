package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.AvroCodec

/** Session-extension entry point: makes every graft custom expression a
  * first-class SQL function in any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) — no per-query registration
  * calls. This is the standard integration seam for a Spark-native
  * library (SURVEY.md §4: custom surface stays minimal — the two Avro
  * envelope expressions, no custom planner rules needed).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("avro_encode_envelope"),
      info("avro_encode_envelope",
        "avro_encode_envelope(struct) - trade envelope to Avro binary"),
      (exprs: Seq[Expression]) => AvroCodec.EncodeEnvelope(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("avro_decode_envelope"),
      info("avro_decode_envelope",
        "avro_decode_envelope(binary) - Avro binary to trade envelope"),
      (exprs: Seq[Expression]) => AvroCodec.DecodeEnvelope(exprs.head)))
  }
}

object GraftExtensions {
  /** Keep the imperative registrars reachable from the extension object
    * for sessions that already exist (tests, the driver's session). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    AvroCodec.register(spark)
  }
}
