package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `graft_adc(table, codes)`: the asymmetric-distance lookup sum —
  * Σ_m table[m][codes[m]] as a strict left-to-right IEEE-double fold —
  * with whole-stage codegen.
  *
  * This is the per-PAIR kernel of every ADC scan (s5/s6/s8/s9 and the
  * recall batteries): each (query, corpus-row) pair folds M lookups
  * into the per-query table. The HOF formulation
  * `aggregate(transform(codes, (cd, m) => element_at(element_at(lut, m+1), cd+1)), 0.0, +)`
  * is CodegenFallback: it allocates an M-element array and interprets
  * two lambda frames per pair — on a Q × N pair stream that is the
  * single hottest expression the suite evaluates. The same kernel also
  * serves the reconstructed-norm lookup (table = per-entry ‖c‖²,
  * precomputed once in the codebook frame).
  *
  * Semantics match the HOF fold bit-for-bit on the engine's frames:
  * left-to-right `acc + table[m][code_m]` in doubles. An out-of-range
  * code raises (as ANSI `element_at` does), and so do more codes than
  * table rows (checked once per row, before the fold); a null table
  * cell poisons the result to null (the fold's `acc + null` behaviour). */
case class AdcSum(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isLut(dt: DataType): Boolean = dt match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }

  private def isIntArray(dt: DataType): Boolean = dt match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLut(left.dataType) && isIntArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_adc requires (array<array<double>>, array<int>), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_adc"

  private def anyInnerNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(ArrayType(_, n2), n1) => n1 || n2
    case ArrayType(_, n) => n
    case _ => true
  })

  override def nullable: Boolean =
    left.nullable || right.nullable || anyInnerNullable

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val n = codes.numElements()
    if (n > lut.numElements()) throw tooManyCodes(n, lut.numElements())
    var acc = 0.0
    var m = 0
    while (m < n) {
      if (codes.isNullAt(m) || lut.isNullAt(m)) return null
      val row = lut.getArray(m)
      val cd = codes.getInt(m)
      if (cd < 0 || cd >= row.numElements())
        throw new ArrayIndexOutOfBoundsException(
          s"graft_adc: code $cd outside table row of ${row.numElements()}")
      if (row.isNullAt(cd)) return null
      acc += row.getDouble(cd)
      m += 1
    }
    acc
  }

  private def tooManyCodes(n: Int, rows: Int) = new IllegalArgumentException(
    s"graft_adc: $n codes exceed a table of $rows rows")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val m = ctx.freshName("m")
      val row = ctx.freshName("row")
      val cd = ctx.freshName("cd")
      // nullSafeCodeGen declares the isNull flag only for a nullable
      // result; non-nullable inputs never poison, so read a constant
      val isNull = if (nullable) ev.isNull.toString else "false"
      val nullCheck = if (anyInnerNullable)
        s"""if ($b.isNullAt($m) || $a.isNullAt($m)) { $isNull = true; break; }"""
      else ""
      val cellNullCheck = if (anyInnerNullable)
        s"if ($row.isNullAt($cd)) { $isNull = true; break; }" else ""
      s"""
         |final int $n = $b.numElements();
         |if ($n > $a.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_adc: " + $n + " codes exceed a table of " + $a.numElements() + " rows");
         |}
         |double $acc = 0.0;
         |for (int $m = 0; $m < $n; $m++) {
         |  $nullCheck
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $a.getArray($m);
         |  final int $cd = $b.getInt($m);
         |  if ($cd < 0 || $cd >= $row.numElements()) {
         |    throw new ArrayIndexOutOfBoundsException(
         |      "graft_adc: code " + $cd + " outside table row of " + $row.numElements());
         |  }
         |  $cellNullCheck
         |  $acc += $row.getDouble($cd);
         |}
         |if (!$isNull) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
