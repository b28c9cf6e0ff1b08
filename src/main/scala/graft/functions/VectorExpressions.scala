package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native dot product over two numeric arrays (float or double), double
  * accumulator.
  *
  * Exists because Spark's higher-order functions (zip_with/aggregate) are
  * interpreted — fine off the hot path, but the ANN join evaluates one dot
  * per candidate pair, so this codegens to a tight primitive loop inside
  * whole-stage codegen (no lambda dispatch, no boxing). Same math as
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: left-to-right double adds.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs array<float|double>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lAcc = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rAcc = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double)$a.$lAcc($i) * (double)$b.$rAcc($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FloatVectorDot = copy(newLeft, newRight)
}

/** Native dot product over two `array<long>` columns with an exact long
  * accumulator — the hot-path form of the quantized-integer cosine
  * (`aggregate(zip_with(a, b, _*_), 0L, _+_)` is interpreted; this
  * codegens to a primitive loop). Quantized embeddings are |x| <= ~1e8,
  * so dim * (1e8)^2 stays far below Long.MaxValue. */
case class LongVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_long needs array<bigint>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LongVectorDot = copy(newLeft, newRight)
}

/** ColBERT-style late-interaction MaxSim over two multi-vector arrays
  * (Khattab & Zaharia, SIGIR 2020): both inputs are `subVecs` token
  * vectors of dim/subVecs elements flattened into one array<bigint>;
  * the score is sum over LEFT tokens of the max over RIGHT tokens of
  * the exact int64 sub-vector dot. All-integer arithmetic — max and sum
  * of int64 dots are order-free — so scores are bit-identical across
  * engines and the gate query is fully oracle-checkable. One codegen'd
  * S^2-dot loop per pair, no per-token explode in the plan. */
case class LongVectorMaxSim(left: Expression, right: Expression,
    subVecs: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (!(ok(left) && ok(right))) TypeCheckResult.TypeCheckFailure(
      s"vec_maxsim_long needs array<bigint>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    else if (subVecs < 1) TypeCheckResult.TypeCheckFailure(
      s"subVecs must be positive: $subVecs")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    LongVectorMaxSim.maxSim(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], subVecs)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LongVectorMaxSim.maxSim(" +
        s"$a, $b, $subVecs);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LongVectorMaxSim =
    copy(left = newLeft, right = newRight)
}

object LongVectorMaxSim {
  /** sum_t max_u dot(a[t], b[u]) over the flattened sub-vector layout.
    * Sub-dim comes from the LEFT array; a short/ragged right array
    * contributes only its complete prefix elements (missing tail = 0),
    * mirroring LongVectorDot's min-length rule. */
  def maxSim(a: ArrayData, b: ArrayData, subVecs: Int): Long = {
    val m = a.numElements() / subVecs
    if (m == 0) return 0L
    var score = 0L
    var t = 0
    while (t < subVecs) {
      var best = Long.MinValue
      var u = 0
      while (u < subVecs) {
        var d = 0L
        var i = 0
        while (i < m) {
          val ai = t * m + i
          val bi = u * m + i
          if (bi < b.numElements())
            d += a.getLong(ai) * b.getLong(bi)
          i += 1
        }
        if (d > best) best = d
        u += 1
      }
      score += best
      t += 1
    }
    score
  }
}

/** Exact |distinct(a) ∩ distinct(b)| over two `array<bigint>` columns —
  * the hot verify step of every prefix-filtered / LSH-candidate dedup
  * pair (r10 optimization). `size(array_intersect(a, b))` builds a
  * hash set AND materializes the full intersection array per row pair;
  * this computes only the count with a merge walk: pre-sorted inputs
  * (one cheap detection pass) merge with ZERO allocation directly on
  * the ArrayData, unsorted inputs pay one copy+sort. Duplicate values
  * count once (distinct-set semantics, exactly `size(array_intersect)`
  * for arrays without null elements; a null element fails loud). */
object SetOps {
  // null elements fail LOUD (r11 ADVICE fix): getLong on a null
  // UnsafeArrayData slot silently reads 0, which would count a null as
  // the value 0 where size(array_intersect) treats null as a set
  // member — a silent divergence. The check is its own pre-pass over
  // both arrays, before the sortedness walk: the sorted hot path scans
  // each array twice.
  private def noNulls(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        "set_intersect_count: null array element (index " + i + ") — " +
          "inputs must be null-free; size(array_intersect) semantics " +
          "differ on nulls")
      i += 1
    }
    a
  }

  def isSortedLongs(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 1
    while (i < n) {
      if (a.getLong(i - 1) > a.getLong(i)) return false
      i += 1
    }
    true
  }

  /** Merge-count over two already-sorted ArrayData — no copies. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) {
        c += 1
        while (i < n && a.getLong(i) == x) i += 1
        while (j < m && b.getLong(j) == y) j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def longIntersectCount(a0: ArrayData, b0: ArrayData): Long = {
    val a = noNulls(a0); val b = noNulls(b0)
    if (isSortedLongs(a) && isSortedLongs(b)) sortedIntersectCount(a, b)
    else {
      val x = a.toLongArray(); val y = b.toLongArray()
      java.util.Arrays.sort(x); java.util.Arrays.sort(y)
      var i = 0; var j = 0; var c = 0L
      while (i < x.length && j < y.length) {
        val xv = x(i); val yv = y(j)
        if (xv == yv) {
          c += 1
          while (i < x.length && x(i) == xv) i += 1
          while (j < y.length && y(j) == yv) j += 1
        } else if (xv < yv) i += 1
        else j += 1
      }
      c
    }
  }
}

/** Native distinct-intersection COUNT of two `array<bigint>` columns —
  * see [[SetOps.longIntersectCount]]. Codegen'd (stays inside
  * whole-stage codegen; the merge lives in the static JVM method). */
case class LongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"set_intersect_count needs array<bigint>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SetOps.longIntersectCount(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SetOps.longIntersectCount($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LongIntersectCount = copy(newLeft, newRight)
}

object VectorFunctions {
  /** Column API for [[LongIntersectCount]]. */
  def set_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(
      LongIntersectCount(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))

  /** Column API for [[FloatVectorDot]]. */
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      FloatVectorDot(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))

  /** Column API for [[LongVectorDot]] (exact integer accumulation). */
  def vec_dot_long(a: Column, b: Column): Column =
    ColumnBridge.column(
      LongVectorDot(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))

  /** Column API for [[LongVectorMaxSim]] (late-interaction score). */
  def vec_maxsim_long(a: Column, b: Column, subVecs: Int): Column =
    ColumnBridge.column(
      LongVectorMaxSim(ColumnBridge.expression(a),
        ColumnBridge.expression(b), subVecs))
}
