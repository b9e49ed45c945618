/* This file lives under org.apache.spark.sql.* because Catalyst's
 * expression-authoring surface (ExpectsInputTypes / AbstractDataType /
 * the Column<->Expression bridge in classic.ExpressionUtils) is
 * private[sql] in Spark 4 — the standard pattern for Spark extension
 * libraries. Public API is re-exported from graft.plans.Native.
 */
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, InSet}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-wise Hamming distance between two strings: count of mismatched
  * positions plus the length difference. On ASCII inputs (the '0'/'1'
  * SimHash fingerprints) this equals character Hamming distance.
  *
  * Native replacement for the composed
  * `size(filter(zip_with(split(a,""), split(b,""), ...)))` pipeline:
  * that chain allocates two char arrays plus a zipped struct array per
  * comparison; this is one allocation-free byte loop that whole-stage
  * codegen inlines into the join's consume path.
  */
case class HammingDistance(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hamming"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String].getBytes
    val y = b.asInstanceOf[UTF8String].getBytes
    val n = math.min(x.length, y.length)
    var d = math.abs(x.length - y.length).toLong
    var i = 0
    while (i < n) {
      if (x(i) != y(i)) d += 1L
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("xb")
      val y = ctx.freshName("yb")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |byte[] $x = $a.getBytes();
         |byte[] $y = $b.getBytes();
         |int $n = Math.min($x.length, $y.length);
         |${ev.value} = Math.abs($x.length - $y.length);
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x[$i] != $y[$i]) ${ev.value}++;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

/** Column<->Expression bridge (classic.ExpressionUtils is private[sql]). */
object GraftNative {
  def hamming(a: Column, b: Column): Column =
    ExpressionUtils.column(
      HammingDistance(ExpressionUtils.expression(a),
        ExpressionUtils.expression(b)))

  def distinctShingles(toks: Column, k: Int): Column =
    ExpressionUtils.column(
      DistinctShingles(ExpressionUtils.expression(toks), k))

  def minhashBandKeys(shs: Column, bands: Int, rowsPerBand: Int): Column =
    ExpressionUtils.column(
      MinhashBandKeys(ExpressionUtils.expression(shs), bands, rowsPerBand))

  def simhash(mds: Column, bits: Int): Column =
    ExpressionUtils.column(Simhash(ExpressionUtils.expression(mds), bits))

  def minMd5(arr: Column): Column =
    ExpressionUtils.column(MinMd5(ExpressionUtils.expression(arr)))

  def qdot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      QDotLong(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def signBucket(v: Column, nBits: Int, dims: Int): Column =
    ExpressionUtils.column(
      SignBucket(ExpressionUtils.expression(v), nBits, dims))

  def textStats(toks: Column, stopwordLists: Seq[Seq[String]]): Column =
    ExpressionUtils.column(
      TextStats(ExpressionUtils.expression(toks), stopwordLists))

  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(
      JaroWinkler(ExpressionUtils.expression(a),
        ExpressionUtils.expression(b)))

  def inSet(c: Column, values: Set[Any]): Column =
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c), values))

  def nfcNormalize(s: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(s)))

  def bpeMerge(word: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(
      BpeMergeWord(ExpressionUtils.expression(word), merges))
}
