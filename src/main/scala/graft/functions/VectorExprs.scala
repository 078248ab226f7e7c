package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftfn.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Whole-stage-codegen vector primitives for the similarity operators
  * (SURVEY.md §2 E5-E7).
  *
  * The declarative forms (`zip_with` + `aggregate`) are interpreted
  * per-element lambda calls — fine for one pass over a table, ruinous
  * inside an O(pairs) join where the round-1 bench spent ~170 s at
  * sf0.1. These expressions generate a tight scalar loop instead,
  * while keeping BIT-IDENTICAL arithmetic to the declarative form and
  * the DuckDB oracle: each float is promoted to double (exact), the
  * products are accumulated in array order, so `dot` is reproducible
  * across partitionings and engines.
  */
object VectorExprs {
  private[graft] def col(e: Expression): Column = ColumnBridge.column(e)
  private[graft] def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Σ aᵢ·bᵢ over two `array<float>` columns, double accumulation in
    * array order. Null if either array is null, any element is null,
    * or lengths differ (the `zip_with` null-padding semantics). */
  def floatDot(a: Column, b: Column): Column = col(FloatVecDot(expr(a), expr(b)))

  /** Random-hyperplane LSH bucket id: bit i = sign(emb · planes(i)).
    * Fails fast when the embedding length differs from the plane
    * dimension instead of silently degenerating to one bucket. */
  def hyperplaneBucket(emb: Column, planes: Array[Array[Double]]): Column =
    col(HyperplaneBucket(expr(emb), planes))

  /** Nearest-centroid argmax as ONE codegen expression (r20): over a
    * per-row `array<struct<cell:long, half:double, centroid:array<float>>>`
    * (in practice a broadcast one-row centroid table attached by a
    * cross join), returns the `cell` maximizing `emb·centroid − half`
    * (≡ min L2 when half = |c|²/2) in the order of the broadcast-join +
    * `max(struct(s, −cell))` aggregate it replaced ([[nearestCellOf]]),
    * with no k-way row fan-out, no hash aggregation and NO exchange.
    * Throws on a dimension mismatch; null if `emb` or the centroid array
    * is null or empty. */
  def nearestCell(emb: Column, cents: Column): Column =
    col(NearestCellArgmax(expr(emb), expr(cents)))

  /** The one scalar assignment loop behind [[NearestCellArgmax]]'s
    * interpreted and generated forms and the driver arm of
    * `Similarity.kmeansCentroids`: the cell of the greatest score
    * s = Σ embᵢ·centroidᵢ − half (floats promoted to double, products
    * accumulated in array order — bit-identical to [[FloatVecDot]]), in
    * Spark's order of `struct(s, −cell)`: a null score (a null element
    * on either side, a null `half` or centroid) ranks below every
    * number, NaN above every number and equal to NaN, −0.0 equals 0.0,
    * and equal scores go to the lower cell. `cents` must be non-empty;
    * a centroid whose length differs from `emb`'s throws. */
  def nearestCellOf(emb: ArrayData, cents: ArrayData): Long = {
    val k = cents.numElements()
    val dim = emb.numElements()
    var bestS = 0.0
    var bestNull = true
    var bestC = 0L
    var j = 0
    while (j < k) {
      val c = cents.getStruct(j, 3)
      val cell = c.getLong(0)
      var isNull = c.isNullAt(1) || c.isNullAt(2)
      var acc = 0.0
      if (!isNull) {
        val cv = c.getArray(2)
        if (cv.numElements() != dim) throw new IllegalArgumentException(
          s"nearest_cell_argmax: centroid dim ${cv.numElements()} != embedding dim $dim")
        var i = 0
        while (i < dim && !isNull) {
          if (emb.isNullAt(i) || cv.isNullAt(i)) isNull = true
          else acc += emb.getFloat(i).toDouble * cv.getFloat(i).toDouble
          i += 1
        }
      }
      val s = if (isNull) 0.0 else acc - c.getDouble(1)
      val cmp =
        if (isNull || bestNull) (if (isNull == bestNull) 0 else if (isNull) -1 else 1)
        else if (s == bestS) 0
        else java.lang.Double.compare(s, bestS)
      if (j == 0 || cmp > 0 || (cmp == 0 && cell < bestC)) {
        bestS = s; bestNull = isNull; bestC = cell
      }
      j += 1
    }
    bestC
  }
}

case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_vec_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"float_vec_dot expects (ARRAY<FLOAT>, ARRAY<FLOAT>), got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local via freshName: the same expression may be inlined
      // several times into ONE generated scope (filter + projection),
      // and fixed names make janino reject the whole stage → silent
      // interpreter fallback
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Tight-loop nearest-centroid selection over a per-row centroid
  * array: [[VectorExprs.nearestCellOf]] for each row, interpreted and
  * generated alike. The centroid count k is bounded (a coarse
  * quantizer), so the k·dim multiply-adds per row replace what was a
  * k-way join fan-out plus an argmax aggregate whose exchange carried
  * one full embedding per input row. */
case class NearestCellArgmax(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cell_argmax"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(
          org.apache.spark.sql.types.StructType(Array(c, h, v)), _))
        if c.dataType == LongType && h.dataType == DoubleType &&
          v.dataType.isInstanceOf[ArrayType] &&
          v.dataType.asInstanceOf[ArrayType].elementType == FloatType =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "nearest_cell_argmax expects (ARRAY<FLOAT>, " +
          "ARRAY<STRUCT<cell: BIGINT, half: DOUBLE, centroid: ARRAY<FLOAT>>>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cents = b.asInstanceOf[ArrayData]
    if (cents.numElements() == 0) null
    else VectorExprs.nearestCellOf(a.asInstanceOf[ArrayData], cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($b.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorExprs.nearestCellOf($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit (≤ nPlanes) sign-pattern bucket from fixed hyperplanes.
  * `planes` is a driver-side constant shipped as a codegen reference
  * object; each row costs nPlanes·dim fused multiply-adds. Throws on
  * embedding/plane dimension mismatch (null arrays stay null; a null
  * element zeroes that plane's bit, matching the declarative form's
  * `IF(NULL > 0, ...)` behavior). */
case class HyperplaneBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bucket expects ARRAY<FLOAT>, got ${other.simpleString}")
  }

  private val dim: Int = if (planes.nonEmpty) planes(0).length else 0
  // flat row-major [nPlanes * dim] for cache-friendly codegen access
  private lazy val flat: Array[Double] = planes.flatten

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    require(v.numElements() == dim,
      s"hyperplane_bucket: embedding dim ${v.numElements()} != plane dim $dim")
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      var acc = 0.0
      var sawNull = false
      var i = 0
      while (i < dim && !sawNull) {
        if (v.isNullAt(i)) sawNull = true
        else acc += v.getFloat(i).toDouble * flat(p * dim + i)
        i += 1
      }
      if (!sawNull && acc > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("planes", flat, "double[]")
    val nPlanes = planes.length
    nullSafeCodeGen(ctx, ev, v => {
      val bucket = ctx.freshName("bucket")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      val sawNull = ctx.freshName("sawNull")
      val i = ctx.freshName("i")
      s"""
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "hyperplane_bucket: embedding dim " + $v.numElements() + " != plane dim " + $dim);
         |}
         |long $bucket = 0L;
         |for (int $p = 0; $p < $nPlanes; $p++) {
         |  double $acc = 0.0;
         |  boolean $sawNull = false;
         |  for (int $i = 0; $i < $dim && !$sawNull; $i++) {
         |    if ($v.isNullAt($i)) { $sawNull = true; }
         |    else { $acc += ((double) $v.getFloat($i)) * $flatRef[$p * $dim + $i]; }
         |  }
         |  if (!$sawNull && $acc > 0) { $bucket |= 1L << $p; }
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
