package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector math with real codegen.
  *
  * The higher-order-function formulations in [[VectorFunctions]] are
  * correct but allocate a lambda frame per element and walk the array
  * once per aggregate (cosine = 3 passes). These expressions emit one
  * fused Java loop inside whole-stage codegen — the preference-order
  * step (b) of SURVEY.md §2.9: a custom Expression before any UDF.
  *
  * Elements may be float or double arrays; math is double throughout.
  */
abstract class VecBinaryExpression extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> inputs, " +
        s"got ${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def getter(e: Expression): String =
    if (elemIsFloat(e)) "getFloat" else "getDouble"
  protected def elemAt(e: Expression, a: ArrayData, i: Int): Double =
    if (elemIsFloat(e)) a.getFloat(i).toDouble else a.getDouble(i)
}

/** dot(a, b): fused multiply-add loop. Null for null inputs AND for
  * length-mismatched vectors — same as the HOF formulation (zip_with
  * pads with null, which propagates), so swapping forms can't silently
  * change results on a mixed-dimension corpus. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var i = 0
      while (i < n) { dot += elemAt(left, x, i) * elemAt(right, y, i); i += 1 }
      dot
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ((double) $a.${getter(left)}($i)) * ((double) $b.${getter(right)}($i));
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** cosine(a, b) in ONE pass (dot + both norms fused); null when either
  * norm is zero — same semantics as [[VectorFunctions.cosine]].
  */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_cosine"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < n) {
        val xi = elemAt(left, x, i); val yi = elemAt(right, y, i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
      // dot / (sqrt(nx) * sqrt(ny)), NOT sqrt(nx*ny): bitwise-identical
      // to DuckDB's list_cosine_similarity (verified empirically, 3000/
      // 3000 exact) and to VectorFunctions.cosine — the forms differ in
      // the last ULP ~1/3 of the time, which is exactly the noise that
      // could flip an oracle rank tie
      if (nx == 0.0 || ny == 0.0) null else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.${getter(left)}($i);
         |    double $yi = (double) $b.${getter(right)}($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if ($nx == 0.0 || $ny == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
    copy(left = l, right = r)
}

/** Exact integer (dot, |a|², |b|²) of two array<long> vectors in ONE
  * fused pass — the q170 pair-stage kernel: the semantic-dedup
  * threshold needs all three, and the HOF formulation
  * (`aggregate(zip_with(...))` ×3) walks both arrays three times
  * through lambda frames outside whole-stage codegen. Returns
  * struct<dot:bigint, n2a:bigint, n2b:bigint>; null for null inputs or
  * length mismatch (zip_with's convention, so swapping forms can't
  * silently change results). Longs wrap past 2⁶³ like any integer
  * expression — callers quantize so per-element products stay ≤ ~10⁹
  * (1e-4 units: 64 dims × (3·10⁴)² ≈ 6·10¹⁰ ≪ 2⁶³).
  */
case class VecIntDotNorms(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "vec_int_dot_norms"
  override def nullable: Boolean = true
  override def dataType: DataType = VecIntDotNorms.schema

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> inputs, " +
          s"got ${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VecIntDotNorms.kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |${ev.value} = graft.functions.VecIntDotNorms.kernel($a, $b);
       |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecIntDotNorms =
    copy(left = l, right = r)
}

object VecIntDotNorms {
  val schema: StructType = StructType(Seq(
    StructField("dot", LongType, nullable = false),
    StructField("n2a", LongType, nullable = false),
    StructField("n2b", LongType, nullable = false)))

  def kernel(x: ArrayData, y: ArrayData):
      org.apache.spark.sql.catalyst.InternalRow = {
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < n) {
        // a null element nulls the whole result — the zip_with/aggregate
        // convention the doc promises (getLong on a null slot would
        // silently read 0 and produce a concrete wrong struct)
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val a = x.getLong(i); val b = y.getLong(i)
        dot += a * b; na += a * a; nb += b * b; i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(dot, na, nb)
    }
  }
}

/** Σ_i (cnt_i·q_i − s_i)² of a quantized vector against its label's
  * per-dim integer sums — q149/q215's centroid-distance kernel, fused:
  * the exploded formulation shuffled the ×dims expansion through a
  * groupBy(vec_id) just to re-sum per vector (a 3.8M-row exchange at
  * sf0.1; the whole query's cost at 100 TB), and the HOF rewrite
  * (aggregate ∘ transform ∘ element_at(map)) measured SLOWER locally —
  * lambda frames and map probes outside whole-stage codegen. This is
  * one fused loop per row against broadcast dim-ordered stat arrays.
  *
  * Arithmetic contract (identical to the DECIMAL form it replaces):
  * the linear term cnt·q − s is int64 (any long fits DECIMAL(19,0));
  * its square and the running sum are exact unsigned 128-bit
  * (multiplyHigh + carry), surfaced as DECIMAL(38,0); a sum at or past
  * 10³⁸ returns null exactly like decimal overflow under non-ANSI.
  * Null/skip semantics mirror the exploded form: a null q element is
  * one missing qd row — skipped, not poisoning — while stat arrays
  * shorter than the vector (impossible by construction: a vector's
  * own dims always have stats) null the row to fail loudly.
  */
case class VecCentroidD2(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def prettyName: String = "vec_centroid_d2"
  override def nullable: Boolean = true
  override def dataType: DataType = DecimalType(38, 0)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires three array<bigint> inputs, " +
          s"got ${a.simpleString} / ${b.simpleString} / ${c.simpleString}")
    }

  override def nullSafeEval(q: Any, s: Any, c: Any): Any =
    VecCentroidD2.kernel(q.asInstanceOf[ArrayData],
      s.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, s, c) => s"""
       |${ev.value} = graft.functions.VecCentroidD2.kernel($q, $s, $c);
       |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): VecCentroidD2 =
    copy(first = f, second = s, third = t)
}

object VecCentroidD2 {
  private val Max38 = java.math.BigInteger.TEN.pow(38)
  // hi (the sum's upper 64 bits, unsigned) strictly above this ⇒ the
  // 128-bit sum is ≥ (cap+1)·2⁶⁴ > 10³⁸ ⇒ decimal-overflow null; at
  // the cap itself the final BigInteger comparison decides
  private val HiCap = Max38.shiftRight(64).longValueExact()

  def kernel(q: ArrayData, s: ArrayData, c: ArrayData):
      org.apache.spark.sql.types.Decimal = {
    val n = q.numElements()
    if (s.numElements() < n || c.numElements() < n) return null
    var hi = 0L; var lo = 0L; var i = 0
    while (i < n) {
      if (!q.isNullAt(i)) {
        if (s.isNullAt(i) || c.isNullAt(i)) return null
        val t = c.getLong(i) * q.getLong(i) - s.getLong(i)
        val sqLo = t * t
        val sqHi = Math.multiplyHigh(t, t)
        val newLo = lo + sqLo
        if (java.lang.Long.compareUnsigned(newLo, lo) < 0) hi += 1
        lo = newLo; hi += sqHi
        // early-out keeps hi itself from wrapping (≤ cap + 2⁶² per step)
        if (java.lang.Long.compareUnsigned(hi, HiCap) > 0) return null
      }
      i += 1
    }
    val bytes = java.nio.ByteBuffer.allocate(16).putLong(hi).putLong(lo).array()
    val big = new java.math.BigInteger(1, bytes)
    if (big.compareTo(Max38) >= 0) null
    else org.apache.spark.sql.types.Decimal(scala.math.BigDecimal(big), 38, 0)
  }
}

/** Registration + Column-API access. Queries call [[registerOnce]] at
  * build time so the expressions resolve in whatever session the driver
  * hands us; a session that already has them is left untouched.
  */
object VecExpressions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** Single source of truth for the vector SQL functions — consumed here
    * and by [[graft.GraftExtensions]] (same pattern as
    * [[HashFunctions.sqlBuilders]]); int args validated via intArg so a
    * wrong arity / non-literal arg gives a usable error. */
  val sqlBuilders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot].getName,
      exprs => {
        require(exprs.length == 2, s"vec_dot: expected 2 arguments, got ${exprs.length}")
        VecDot(exprs.head, exprs(1))
      }),
    ("vec_cosine", classOf[VecCosine].getName,
      exprs => {
        require(exprs.length == 2, s"vec_cosine: expected 2 arguments, got ${exprs.length}")
        VecCosine(exprs.head, exprs(1))
      }),
    ("vec_int_dot_norms", classOf[VecIntDotNorms].getName,
      exprs => {
        require(exprs.length == 2,
          s"vec_int_dot_norms: expected 2 arguments, got ${exprs.length}")
        VecIntDotNorms(exprs.head, exprs(1))
      }),
    ("vec_lsh_buckets", classOf[VecLshBuckets].getName,
      exprs => VecLshBuckets(exprs.head,
        HashFunctions.intArg("vec_lsh_buckets", exprs, 1),
        HashFunctions.intArg("vec_lsh_buckets", exprs, 2))),
    ("vec_centroid_d2", classOf[VecCentroidD2].getName,
      exprs => {
        require(exprs.length == 3,
          s"vec_centroid_d2: expected 3 arguments, got ${exprs.length}")
        VecCentroidD2(exprs.head, exprs(1), exprs(2))
      }))

  def registerOnce(spark: SparkSession): Unit = HashFunctions.registerMissing(spark, sqlBuilders)

  def dotFast(spark: SparkSession, a: Column, b: Column): Column = {
    registerOnce(spark); call_function("vec_dot", a, b)
  }

  def cosineFast(spark: SparkSession, a: Column, b: Column): Column = {
    registerOnce(spark); call_function("vec_cosine", a, b)
  }

  /** Fused exact integer (dot, n2a, n2b) — see [[VecIntDotNorms]]. */
  def intDotNorms(spark: SparkSession, a: Column, b: Column): Column = {
    registerOnce(spark); call_function("vec_int_dot_norms", a, b)
  }

  /** Fused exact centroid distance Σ(cnt·q − s)² — see [[VecCentroidD2]]. */
  def centroidD2(spark: SparkSession, qvs: Column, s: Column, cnt: Column): Column = {
    registerOnce(spark); call_function("vec_centroid_d2", qvs, s, cnt)
  }

  /** Multi-table LSH bucket array (see [[VecLshBuckets]]); explode and
    * equi-join on the value to probe all tables.
    */
  def lshBuckets(spark: SparkSession, v: Column, tables: Int, bits: Int): Column = {
    registerOnce(spark)
    call_function("vec_lsh_buckets", v,
      org.apache.spark.sql.functions.lit(tables), org.apache.spark.sql.functions.lit(bits))
  }
}
