package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the embedding-similarity hot path
  * (SURVEY.md §7.5). A dot product over two `array<double>` columns:
  * codegen'd tight loop, no boxing, no higher-order-function lambda
  * dispatch per element — this is the (b)-tier of the custom-operator
  * preference order (compose > Expression > plan node > mapPartitions).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket id for an `array<double>` embedding:
  * bit j of the result is the sign of the dot product against a ±1
  * hyperplane derived deterministically from (dim, plane) indices —
  * every executor regenerates the planes identically, nothing is
  * shipped. One codegen'd O(d·nBits) loop; the interpreted
  * `aggregate(zip_with(...))` formulation this replaces allocated a
  * zipped boxed array per row per bit.
  *
  * Bit formula (mirrored exactly by [[VectorOps.hyperplaneSignSql]] for
  * the DuckDB oracles): a two-round multiply–xor–shift mix of (i, j),
  *
  * {{{
  * u0 = i*1315423911 + j*2654435761
  * u1 = ((u0 xor (u0 >> 15)) mod 2^20) * 2654435761
  * u2 = ((u1 xor (u1 >> 20)) mod 2^20) * 1315423911
  * plane(i, j) = +1 if bit 39 of u2 == 0 else -1
  * }}}
  *
  * every intermediate stays under 2^52, so both engines compute it in
  * exact BIGINT arithmetic. The mix matters: the original
  * `(i*A + j*B) mod 2` formula with odd A, B degenerates to
  * `(i+j) mod 2` — every "hyperplane" was ± one single alternating
  * vector, ALL vectors landed in 2 buckets, and every LSH consumer was
  * an O(n²) all-pairs in disguise (caught by the r9 10× scale
  * rehearsal: d_embedding_dup went quadratic while the oracle — which
  * mirrors the same planes — stayed green). Measured on 4k
  * zero-centered vectors: all 256 8-bit band keys populated, max
  * bucket 42, plane-pair agreement 0.50 avg / 0.67 max.
  */
case class HyperplaneLshBits(child: Expression, nBits: Int)
    extends Expression {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bits expects array<double>, got ${other.simpleString}")
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val arr = v.asInstanceOf[ArrayData]
      val d = arr.numElements()
      var bucket = 0
      var j = 0
      while (j < nBits) {
        var acc = 0.0
        var i = 0
        while (i < d) {
          val u0 = i * 1315423911L + j * 2654435761L
          val u1 = ((u0 ^ (u0 >> 15)) % 1048576L) * 2654435761L
          val u2 = ((u1 ^ (u1 >> 20)) % 1048576L) * 1315423911L
          val sign = if (((u2 >> 39) & 1L) == 0L) 1.0 else -1.0
          acc += arr.getDouble(i) * sign
          i += 1
        }
        if (acc > 0.0) bucket |= (1 << j)
        j += 1
      }
      bucket
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arr = c.value
    val d = ctx.freshName("d")
    val bucket = ctx.freshName("bucket")
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val code =
      code"""
        |${c.code}
        |boolean ${ev.isNull} = ${c.isNull};
        |int ${ev.value} = 0;
        |if (!${ev.isNull}) {
        |  int $d = $arr.numElements();
        |  int $bucket = 0;
        |  for (int $j = 0; $j < $nBits; $j++) {
        |    double $acc = 0.0;
        |    for (int $i = 0; $i < $d; $i++) {
        |      long u0 = $i * 1315423911L + $j * 2654435761L;
        |      long u1 = ((u0 ^ (u0 >> 15)) % 1048576L) * 2654435761L;
        |      long u2 = ((u1 ^ (u1 >> 20)) % 1048576L) * 1315423911L;
        |      double sign = (((u2 >> 39) & 1L) == 0L) ? 1.0 : -1.0;
        |      $acc += $arr.getDouble($i) * sign;
        |    }
        |    if ($acc > 0.0) $bucket |= (1 << $j);
        |  }
        |  ${ev.value} = $bucket;
        |}
      """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object VectorOps {

  /** DuckDB expression for `plane(i, j)` — the EXACT mirror of
    * [[HyperplaneLshBits]]'s sign mix, the single source of truth the
    * LSH oracle SQL ([[graft.ops.Dedup.embeddingDupSql]]) splices into
    * its per-bit lambdas. `iExpr` is the 0-BASED dimension index
    * expression (DuckDB list lambdas see 1-based `i`, so callers pass
    * `"(i - 1)"`); `j` is
    * the bit index, baked as a literal. All intermediates are positive
    * and < 2^52 — exact BIGINT in both engines. */
  def hyperplaneSignSql(iExpr: String, j: Int): String = {
    val u0 = s"($iExpr * 1315423911 + $j * 2654435761)"
    val u1 = s"((xor($u0, $u0 >> 15) % 1048576) * 2654435761)"
    val u2 = s"((xor($u1, $u1 >> 20) % 1048576) * 1315423911)"
    s"(CASE WHEN (($u2 >> 39) & 1) = 0 THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
  }

  /** Register `dot_product` / `lsh_bits` in the session's function
    * registry so plans can call them via `expr(...)`. Idempotent. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lsh_bits", exprs => HyperplaneLshBits(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int]), "built-in")
  }
}
