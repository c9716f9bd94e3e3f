package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_pq_encode(cbs, v)`: the product-quantization encode — per
  * subspace m, the L2-argmin code of v's m-th subvector against the
  * nested codebook `cbs[m][k]` — with whole-stage codegen.
  *
  * Replaces the HOF formulation
  * `transform(sequence(...), m => array_position(dists, array_min(dists)) - 1)`
  * with `dists = transform(cbs[m], c => aggregate(zip_with(...)))`:
  * that chain is CodegenFallback end to end, interpreting ~M·K·d lambda
  * frames and allocating M·K intermediate arrays per corpus row — the
  * hottest narrow map the vector suite has (every PQ gate encodes the
  * whole corpus through it). Here the three loops compile into the
  * generated stage: no allocation except the M-int result, no virtual
  * calls.
  *
  * Semantics are bit-identical to the HOF version (and to the DuckDB
  * oracle's replay): per-subspace distances are strict left-to-right
  * folds of `acc + (x−y)·(x−y)` in IEEE doubles, and ties pick the
  * LOWEST k (`array_position` of the first minimum ≡ replace only on
  * strict improvement). The subvector width is taken from the codebook
  * (`d = len(cbs[0][0])`, uniform by construction — the [[graft.ops]]
  * PQ geometry); `v` shorter than M·d raises, like graft_dot's length
  * mismatch, and so does an empty codebook row (cbs[0] or any cbs[m]
  * with no entries — there is no code to emit, and emitting 0 would
  * mask a corrupt codebook). A null element anywhere in the inputs
  * poisons the result to null (the engine's codebooks and vectors are non-null by
  * construction; poisoning beats the HOF's silent null-skip, which
  * would mask a corrupt codebook as code 0). */
case class PqEncode(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isNestedCodebook(dt: DataType): Boolean = dt match {
    case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
    case _ => false
  }

  private def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNestedCodebook(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_pq_encode requires (array<array<array<double>>>, array<double>), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_pq_encode"

  private def anyInnerNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(ArrayType(ArrayType(_, n3), n2), n1) => n1 || n2 || n3
    case ArrayType(_, n) => n
    case _ => true
  })

  override def nullable: Boolean =
    left.nullable || right.nullable || anyInnerNullable

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val cbs = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[ArrayData]
    val m0 = cbs.numElements()
    if (m0 == 0) return new GenericArrayData(Array.emptyIntArray)
    if (cbs.isNullAt(0)) return null
    val first = cbs.getArray(0)
    if (first.numElements() == 0) throw emptyCodebook(0)
    if (first.isNullAt(0)) return null
    val d = first.getArray(0).numElements()
    if (v.numElements() < m0 * d)
      throw new IllegalArgumentException(
        s"graft_pq_encode: vector of ${v.numElements()} dims cannot hold " +
          s"$m0 subspaces of width $d")
    val codes = new Array[Int](m0)
    var m = 0
    while (m < m0) {
      if (cbs.isNullAt(m)) return null
      val cbm = cbs.getArray(m)
      val k0 = cbm.numElements()
      if (k0 == 0) throw emptyCodebook(m)
      var best = 0.0
      var bestK = 0
      var k = 0
      while (k < k0) {
        if (cbm.isNullAt(k)) return null
        val c = cbm.getArray(k)
        var acc = 0.0
        var i = 0
        while (i < d) {
          if (v.isNullAt(m * d + i) || c.isNullAt(i)) return null
          val diff = v.getDouble(m * d + i) - c.getDouble(i)
          acc += diff * diff
          i += 1
        }
        if (k == 0 || acc < best) { best = acc; bestK = k }
        k += 1
      }
      codes(m) = bestK
      m += 1
    }
    new GenericArrayData(codes)
  }

  private def emptyCodebook(m: Int) = new IllegalArgumentException(
    s"graft_pq_encode: codebook for subspace $m has no entries")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m0 = ctx.freshName("m0")
      val d = ctx.freshName("d")
      val codes = ctx.freshName("codes")
      val m = ctx.freshName("m")
      val cbm = ctx.freshName("cbm")
      val k0 = ctx.freshName("k0")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val best = ctx.freshName("best")
      val bestK = ctx.freshName("bestK")
      val i = ctx.freshName("i")
      val diff = ctx.freshName("diff")
      val done = ctx.freshName("done")
      // nullSafeCodeGen declares the isNull flag only for a nullable
      // result; non-nullable inputs never poison, so read a constant
      val isNull = if (nullable) ev.isNull.toString else "false"
      // null-element poisoning branches are only generated when the
      // input types allow null elements — the hot path stays branch-free
      val nc1 = if (anyInnerNullable)
        s"if ($a.isNullAt($m)) { $isNull = true; break; }" else ""
      val nc2 = if (anyInnerNullable)
        s"if ($cbm.isNullAt($k)) { $isNull = true; break; }" else ""
      val nc3 = if (anyInnerNullable)
        s"if ($b.isNullAt($m * $d + $i) || $c.isNullAt($i)) { $isNull = true; break; }"
      else ""
      val nc0 = if (anyInnerNullable)
        s"""if ($a.numElements() > 0 && ($a.isNullAt(0) ||
           |    $a.getArray(0).numElements() > 0 && $a.getArray(0).isNullAt(0))) {
           |  $isNull = true; $done = true;
           |}""".stripMargin
      else ""
      s"""
         |final int $m0 = $a.numElements();
         |boolean $done = false;
         |int $d = 0;
         |$nc0
         |if (!$done && !$isNull && $m0 > 0) {
         |  if ($a.getArray(0).numElements() == 0) {
         |    throw new IllegalArgumentException(
         |      "graft_pq_encode: codebook for subspace 0 has no entries");
         |  }
         |  $d = $a.getArray(0).getArray(0).numElements();
         |  if ($b.numElements() < $m0 * $d) {
         |    throw new IllegalArgumentException(
         |      "graft_pq_encode: vector of " + $b.numElements() +
         |      " dims cannot hold " + $m0 + " subspaces of width " + $d);
         |  }
         |}
         |final int[] $codes = new int[($isNull || $done) ? 0 : $m0];
         |for (int $m = 0; $m < $m0 && !$isNull && !$done; $m++) {
         |  $nc1
         |  org.apache.spark.sql.catalyst.util.ArrayData $cbm = $a.getArray($m);
         |  final int $k0 = $cbm.numElements();
         |  if ($k0 == 0) {
         |    throw new IllegalArgumentException(
         |      "graft_pq_encode: codebook for subspace " + $m + " has no entries");
         |  }
         |  double $best = 0.0;
         |  int $bestK = 0;
         |  for (int $k = 0; $k < $k0 && !$isNull; $k++) {
         |    $nc2
         |    org.apache.spark.sql.catalyst.util.ArrayData $c = $cbm.getArray($k);
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $d && !$isNull; $i++) {
         |      $nc3
         |      final double $diff = $b.getDouble($m * $d + $i) - $c.getDouble($i);
         |      $acc += $diff * $diff;
         |    }
         |    if (!$isNull && ($k == 0 || $acc < $best)) { $best = $acc; $bestK = $k; }
         |  }
         |  if (!$isNull) { $codes[$m] = $bestK; }
         |}
         |if (!$isNull) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
