package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Shared typing for binary array<bigint> → bigint kernels. */
trait LongVecBinaryKernel extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
}

/** Native codegen expression: Σ (a_i − b_i)² over two equal-length int64
  * vectors — the exact-arithmetic verify kernel of the embedding near-dup
  * pair join (Dedup.dedupEmbcos), where it runs once per candidate pair.
  * A tight primitive loop in generated code, vs. one boxed lambda
  * invocation per element for the interpreted `aggregate(zip_with(...))`
  * equivalent. Overflow contract matches the quantizer bound documented
  * at the call site (|x| ≤ ~18 at scale 1e7 for 64 dims). */
case class LongVecSqDist(left: Expression, right: Expression)
    extends LongVecBinaryKernel {

  override def prettyName: String = "graft_sqdist_l"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var s = 0L
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $s = 0L;
        for (int $i = 0; $i < $n; $i++) {
          long $d = $a.getLong($i) - $b.getLong($i);
          $s += $d * $d;
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen expression: Σ a_i·b_i over two equal-length int64
  * vectors — the exact-arithmetic ranking kernel of the brute-force ANN
  * and k-NN-vote operators (Similarity), evaluated once per
  * (query, corpus-row) pair. */
case class LongVecDot(left: Expression, right: Expression)
    extends LongVecBinaryKernel {

  override def prettyName: String = "graft_dot_l"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var s = 0L
    while (i < n) {
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $s = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $s += $a.getLong($i) * $b.getLong($i);
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static helpers called from generated code: the [[LongOrderedPairs]]
  * fan-out and the [[LongVecNearest]] / [[LongVecNearestCell]] argmins. */
object LongVecOps {
  /** C(n,2) computed in Long, so the Int overflow past n = 46341 cannot
    * slip through as a negative array size (r15 ADVICE); a fan-out that
    * does not fit one JVM array fails loudly with the contract message.
    * Callers pass bounded baskets (an order's line count). */
  def pairCount(n: Int): Int = {
    val m = n.toLong * (n - 1) / 2
    require(m <= Int.MaxValue,
      s"graft_ordered_pairs input has $n elements; its C(n,2) = $m pair " +
        "fan-out exceeds one array (bounded-basket contract)")
    m.toInt
  }

  def orderedPairs(a: ArrayData): GenericArrayData = {
    val n = a.numElements()
    val out = new Array[Any](pairCount(n))
    var w = 0
    var i = 0
    while (i < n - 1) {
      val x = a.getLong(i)
      var j = i + 1
      while (j < n) {
        out(w) = new GenericArrayData(Array(x, a.getLong(j)))
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Index of the row of `cents` nearest to `v` by exact int64 squared
    * distance over their common prefix, ties to the smaller index; −1
    * when `cents` is empty. */
  def nearest(v: ArrayData, cents: ArrayData): Int = {
    var best = -1; var bestD = 0L; var j = 0
    while (j < cents.numElements()) {
      val c = cents.getArray(j)
      val n = math.min(v.numElements(), c.numElements())
      var i = 0; var s = 0L
      while (i < n) {
        val d = v.getLong(i) - c.getLong(i)
        s += d * d
        i += 1
      }
      if (best < 0 || s < bestD) { best = j; bestD = s }
      j += 1
    }
    best
  }

  /** Index of the cell whose mean S/n is nearest to `v`, by the
    * division-free score (‖S‖² − 2·v·S·n)/n²: exact int64 numerator and
    * denominator, one IEEE division per cell, ties to the smaller index;
    * −1 when there are no cells. NaN orders last and −0.0 equals 0.0, as
    * in a SQL sort on the score. */
  def nearestCell(v: ArrayData, csums: ArrayData, ns: ArrayData): Int = {
    var best = -1; var bestS = 0.0; var j = 0
    while (j < csums.numElements()) {
      val c = csums.getArray(j)
      val nMem = ns.getLong(j)
      val len = math.min(v.numElements(), c.numElements())
      var i = 0; var ss = 0L; var dot = 0L
      while (i < c.numElements()) {
        val x = c.getLong(i)
        ss += x * x
        if (i < len) dot += v.getLong(i) * x
        i += 1
      }
      val s = (ss - 2L * dot * nMem).toDouble / (nMem * nMem).toDouble
      if (best < 0 || (!s.isNaN && (bestS.isNaN || s < bestS))) {
        best = j; bestS = s
      }
      j += 1
    }
    best
  }
}

/** Shared typing for the argmin kernels: a probe vector, then
  * array<array<bigint>> rows, then (cell kernel) their counts. */
private[plans] object NearestTypes {
  private val vec = ArrayType(LongType)
  def check(name: String, args: Seq[Expression],
      want: Seq[DataType]): TypeCheckResult =
    if (args.map(_.dataType).zip(want).forall { case (got, w) =>
      DataType.equalsIgnoreNullability(got, w) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires (${want.map(_.sql).mkString(", ")}), got " +
        args.map(_.dataType.sql).mkString("(", ", ", ")"))
  val vecRows: Seq[DataType] = Seq(vec, ArrayType(vec))
  val vecRowsCounts: Seq[DataType] = vecRows :+ vec
}

/** Native codegen expression: index of the centroid row nearest to an
  * int64 vector (exact squared distance, ties to the smaller index) — the
  * PQ encode of one subspace as ONE per-row loop over a literal codebook,
  * so a store append assigns codes with no join, window or shuffle and
  * the plan does not grow with the codebook size. */
case class LongVecNearest(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_nearest_l"
  override def checkInputDataTypes(): TypeCheckResult =
    NearestTypes.check(prettyName, children, NearestTypes.vecRows)
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongVecOps.nearest(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.LongVecOps.nearest($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen expression: index of the k-means cell (per-cell sums
  * `csums`, member counts `ns`) whose mean is nearest to an int64
  * vector, by [[LongVecOps.nearestCell]]'s exact score — the store's
  * cell assignment as one per-row loop over the literal K-row summary. */
case class LongVecNearestCell(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def prettyName: String = "graft_nearest_cell_l"
  override def checkInputDataTypes(): TypeCheckResult =
    NearestTypes.check(prettyName, children, NearestTypes.vecRowsCounts)
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    LongVecOps.nearestCell(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.plans.LongVecOps.nearestCell($a, $b, $c);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native codegen expression: array<long> → every ordered element pair
  * [aᵢ, aⱼ] with i < j, as array<array<bigint>> — the LOCAL C(n,2)
  * fan-out of the basket-pair generators (E52/E54 co-purchase edges),
  * where n is bounded by the basket (an order's distinct part count).
  * A compiled double loop per row, vs. one interpreted lambda frame per
  * element for the nested transform/slice/flatten chain
  * (CodegenFallback) computing the same thing. Input order is preserved
  * (callers pass sorted distinct arrays, so pair order is (a < b)). */
case class LongOrderedPairs(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_ordered_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    // orderedPairs reads every slot with getLong, which would silently
    // read a null element as 0 while dataType advertises
    // containsNull=false — reject nullable inputs instead (the function
    // is user-callable SQL; current callers pass collect_set output,
    // which is non-nullable) (r15, ADVICE)
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> with non-nullable elements " +
        "(null slots would silently read as 0)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.sql}")
  }

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    LongVecOps.orderedPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.LongVecOps.orderedPairs($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
