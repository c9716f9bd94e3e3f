package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native PQ kernels (PqEncode / AdcSum): SQL registration, exact
  * equivalence with the HOF formulations they replaced (same loop order,
  * same strict left IEEE-double folds ⇒ bit-identical results), lowest-k
  * tie selection, null poisoning, and the error contracts. These are the
  * per-corpus-row (encode) and per-pair (ADC) hot kernels of every PQ
  * gate — the spec pins the swap to the exact expressions SimilarityOps
  * used before r19. */
class PqKernelSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val M = 4
  private val K = 5
  private val D = 3

  /** A deterministic nested codebook [M][K][D] with irrational-ish values
    * so no accidental ties, and a vector of M·D dims. */
  private def fixture: (Seq[Seq[Seq[Double]]], Seq[Double]) = {
    val cbs = Seq.tabulate(M, K, D)((m, k, i) =>
      math.sin(m * 7.13 + k * 2.47 + i * 1.618) * (k + 1) - m * 0.37)
    val v = Seq.tabulate(M * D)(i => math.cos(i * 2.147) * 2.9 - 0.4)
    (cbs, v)
  }

  /** The exact pre-r19 HOF encode: per subspace, argmin of the
    * left-folded squared L2 against each codebook entry, first-min tie. */
  private def hofCodes(cbs: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
    transform(sequence(lit(0), lit(M - 1)), m => {
      val sub = slice(v, m * D + 1, lit(D))
      val dists = transform(element_at(cbs, m + 1), c =>
        aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })

  /** The exact pre-r19 HOF ADC fold: Σ_m lut[m][code_m], left fold. */
  private def hofAdc(lut: org.apache.spark.sql.Column, codes: org.apache.spark.sql.Column) =
    aggregate(
      transform(codes, (cd, m) => element_at(element_at(lut, m + 1), cd + 1)),
      lit(0.0), (acc, x) => acc + x)

  test("graft_pq_encode registered in SQL and encodes a literal row") {
    val r = spark.sql(
      """SELECT graft_pq_encode(
        |  array(array(array(0.0d, 0.0d), array(5.0d, 5.0d))),
        |  array(4.9d, 5.1d)) AS c""".stripMargin).collect()(0)
    assert(r.getSeq[Int](0) == Seq(1))
  }

  test("graft_adc registered in SQL and sums table lookups") {
    val r = spark.sql(
      """SELECT graft_adc(
        |  array(array(1.0d, 2.0d), array(10.0d, 20.0d)),
        |  array(1, 0)) AS s""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 12.0)
  }

  test("encode is bit-identical to the HOF argmin it replaced") {
    val (cbs, v) = fixture
    val df = Seq((cbs, v)).toDF("cbs", "v")
    val native = df.select(call_function("graft_pq_encode", col("cbs"), col("v")))
      .collect()(0).getSeq[Int](0)
    val hof = df.select(hofCodes(col("cbs"), col("v"))).collect()(0).getSeq[Int](0)
    assert(native == hof)
  }

  test("adc is bit-identical to the HOF left fold it replaced") {
    val (cbs, v) = fixture
    // a lut in the same nested-table shape, values spanning signs/scales
    val lut = Seq.tabulate(M, K)((m, k) => math.tan(m * 1.1 + k * 0.63) * 7.3)
    val codes = Seq.tabulate(M)(m => (m * 3 + 1) % K)
    val df = Seq((lut, codes)).toDF("lut", "codes")
    val native = df.select(call_function("graft_adc", col("lut"), col("codes")))
      .collect()(0).getDouble(0)
    val hof = df.select(hofAdc(col("lut"), col("codes"))).collect()(0).getDouble(0)
    assert(native == hof) // exact: same fold order
    val _ = (cbs, v)
  }

  test("reconstructed norm via the cbn table equals the per-row re-fold") {
    val (cbs, v) = fixture
    val df = Seq((cbs, v)).toDF("cbs", "v")
      .withColumn("cbn", transform(col("cbs"), cbm => transform(cbm, c =>
        aggregate(zip_with(c, c, (x, y) => x * y), lit(0.0), (a, x) => a + x))))
      .withColumn("codes", call_function("graft_pq_encode", col("cbs"), col("v")))
    val viaTable = df.select(
      sqrt(call_function("graft_adc", col("cbn"), col("codes")))).collect()(0).getDouble(0)
    val perRow = df.select(sqrt(aggregate(
      transform(col("codes"), (cd, m) => {
        val c = element_at(element_at(col("cbs"), m + 1), cd + 1)
        aggregate(zip_with(c, c, (x, y) => x * y), lit(0.0), (a, x) => a + x)
      }), lit(0.0), (acc, x) => acc + x))).collect()(0).getDouble(0)
    assert(viaTable == perRow)
  }

  test("encode ties pick the lowest k, like array_position of the first min") {
    // entries 1 and 3 are identical — both exactly at distance 0
    val cbs = Seq(Seq(Seq(2.0, 3.0), Seq(1.0, 1.0), Seq(9.0, 9.0), Seq(1.0, 1.0)))
    val v = Seq(1.0, 1.0)
    val df = Seq((cbs, v)).toDF("cbs", "v")
    val native = df.select(call_function("graft_pq_encode", col("cbs"), col("v")))
      .collect()(0).getSeq[Int](0)
    assert(native == Seq(1))
  }

  test("encode raises when the vector is too short for the codebook geometry") {
    val cbs = Seq(Seq(Seq(1.0, 2.0, 3.0)), Seq(Seq(4.0, 5.0, 6.0)))
    val df = Seq((cbs, Seq(1.0, 2.0, 3.0))).toDF("cbs", "v")
    val e = intercept[Exception] {
      df.select(call_function("graft_pq_encode", col("cbs"), col("v"))).collect()
    }
    def hasMsg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("cannot hold")) || hasMsg(t.getCause))
    assert(hasMsg(e))
  }

  test("adc raises on an out-of-range code") {
    val df = Seq((Seq(Seq(1.0, 2.0)), Seq(2))).toDF("lut", "codes")
    val e = intercept[Exception] {
      df.select(call_function("graft_adc", col("lut"), col("codes"))).collect()
    }
    def hasMsg(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("outside table row")) || hasMsg(t.getCause))
    assert(hasMsg(e))
  }

  test("null inputs and null elements poison to null, and nullability is declared") {
    val r1 = spark.sql(
      "SELECT graft_adc(CAST(NULL AS ARRAY<ARRAY<DOUBLE>>), array(0)) AS s").collect()(0)
    assert(r1.isNullAt(0))
    val df = Seq((Seq(Some(Seq(Some(1.0), None))), Seq(Some(1)))).toDF("lut", "codes")
    val out = df.select(call_function("graft_adc", col("lut"), col("codes")).as("s"))
    assert(out.schema("s").nullable)
    assert(out.collect()(0).isNullAt(0))
    val df2 = Seq((Seq(Option.empty[Seq[Seq[Double]]]), Seq(1.0, 2.0))).toDF("cbs", "v")
    assert(df2.select(call_function("graft_pq_encode", col("cbs"), col("v")))
      .collect()(0).isNullAt(0))
  }

  test("rejects wrong input types at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_pq_encode(array(1.0d), array(1.0d))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_pq_encode") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_adc(array(array(1.0d)), array(1.0d))").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("graft_adc") ||
      e2.getMessage.toLowerCase.contains("data type mismatch"))
  }

  /** Evaluate `e` through interpreted `eval` and through its generated
    * code alone (no interpreted fallback), returning each path's thrown
    * exception — or failing the test if a path returns instead. */
  private def thrownByBothPaths(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[Throwable] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    Seq[() => Any](
      () => e.eval(null),
      () => GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty).get(0, e.dataType))
      .map(path => try { path(); fail(s"$e returned instead of raising") }
        catch { case t: IllegalArgumentException => t })
  }

  test("malformed tables raise in both interpreted eval and codegen, for either nullability") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    for (n <- Seq(true, false)) {
      val cbsT = ArrayType(ArrayType(ArrayType(DoubleType, n), n), n)
      val vec = Literal.create(Seq(1.0, 2.0, 3.0, 4.0), ArrayType(DoubleType, n))
      val entry = Seq(1.0, 2.0)
      // an empty FIRST codebook row, then an empty LATER one: no code exists
      for ((cbs, m) <- Seq((Seq(Seq.empty, Seq(entry)), 0), (Seq(Seq(entry), Seq.empty), 1))) {
        val errs = thrownByBothPaths(
          graft.functions.PqEncode(Literal.create(cbs, cbsT), vec))
        assert(errs.forall(_.getMessage.contains(s"subspace $m has no entries")), errs)
      }
      // more codes than table rows
      val lut = Literal.create(Seq(Seq(1.0, 2.0)), ArrayType(ArrayType(DoubleType, n), n))
      val codes = Literal.create(Seq(0, 1), ArrayType(IntegerType, n))
      val errs = thrownByBothPaths(graft.functions.AdcSum(lut, codes))
      assert(errs.forall(_.getMessage.contains("2 codes exceed a table of 1 rows")), errs)
    }
  }

  test("interpreted eval agrees with the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val (cbs, v) = fixture
    val cbsT = ArrayType(ArrayType(ArrayType(DoubleType)))
    val enc = graft.functions.PqEncode(
      Literal.create(cbs, cbsT), Literal.create(v, ArrayType(DoubleType)))
    val interpreted = enc.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray.toSeq
    val df = Seq((cbs, v)).toDF("cbs", "v")
    val viaCodegen = df.select(call_function("graft_pq_encode", col("cbs"), col("v")))
      .collect()(0).getSeq[Int](0)
    assert(interpreted == viaCodegen)
  }
}
