package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `dot_product(array<double>, array<double>) -> double` — the inner loop of
  * every cosine-similarity operator (LlmOps near-dup + ANN). Generated code
  * is a tight primitive loop over ArrayData, no boxing, fully inside
  * whole-stage codegen: ~100× over the interpreted
  * `aggregate(zip_with(...))` formulation it replaces at sf0.1.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** `minhash_signature(array<long>, k) -> array<long>` — k-permutation
  * MinHash over pre-hashed shingles (graft.kernel.MinHash). The k×n mixing
  * loop runs in compiled kernel code via a static call; per-row overhead is
  * one ArrayData copy each way.
  */
case class MinhashSignatureExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      graft.kernel.MinHash.signature(input.asInstanceOf[ArrayData].toLongArray(), k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.kernel.MinHash.signature($a.toLongArray(), $k));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatureExpr =
    copy(child = newChild)
}

/** `hyperplane_bands(array<double>, nBands, bandBits) -> array<long>` —
  * banded sign-projection LSH keys (graft.kernel.HyperplaneLsh): `nBands`
  * keys of `bandBits` sign bits each, band index packed in the high bits.
  * Explode + equi-join on the key turns an O(n²) similarity join into a
  * collision-sized candidate join.
  */
case class HyperplaneBandsExpr(child: Expression, nBands: Int, bandBits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      graft.kernel.HyperplaneLsh.bands(
        input.asInstanceOf[ArrayData].toDoubleArray(), nBands, bandBits))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.kernel.HyperplaneLsh.bands($a.toDoubleArray(), $nBands, $bandBits));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBandsExpr =
    copy(child = newChild)
}

/** `hyperplane_probes(array<double>, bandBits, nProbes) -> array<long>` —
  * multi-probe bucket list for a single-band LSH table: home bucket plus
  * the `nProbes-1` lowest-margin single-plane flips (the query-side recall
  * booster for ANN; the base side keeps one bucket per vector).
  */
case class HyperplaneProbesExpr(child: Expression, bandBits: Int, nProbes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_probes"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      graft.kernel.HyperplaneLsh.probes(
        input.asInstanceOf[ArrayData].toDoubleArray(), bandBits, nProbes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.kernel.HyperplaneLsh.probes($a.toDoubleArray(), $bandBits, $nProbes));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): HyperplaneProbesExpr =
    copy(child = newChild)
}

/** `int8_quant_stats(array<double>) -> struct<sum_q, sum_abs_q, n_saturated>`
  * — symmetric int8 quantization rolled into one scan-local pass
  * (graft.kernel.Int8Quant): scale = max|x|, component → floor(x·127/scale
  * + 0.5). Returns NULL for vectors with no positive magnitude. Replaces a
  * 4-lambda higher-order-function chain (interpreted per element) with one
  * compiled loop inside whole-stage codegen.
  */
case class Int8QuantStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = StructType(Seq(
    StructField("sum_q", LongType, nullable = false),
    StructField("sum_abs_q", LongType, nullable = false),
    StructField("n_saturated", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "int8_quant_stats"

  override protected def nullSafeEval(input: Any): Any = {
    val r = graft.kernel.Int8Quant.stats(input.asInstanceOf[ArrayData].toDoubleArray())
    if (r == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](r(0), r(1), r(2)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("quantStats")
      s"""
         |long[] $r = graft.kernel.Int8Quant.stats($a.toDoubleArray());
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { java.lang.Long.valueOf($r[0]),
         |      java.lang.Long.valueOf($r[1]), java.lang.Long.valueOf($r[2]) });
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8QuantStatsExpr =
    copy(child = newChild)
}
