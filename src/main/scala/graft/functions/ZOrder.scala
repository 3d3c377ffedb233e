package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** N-ary Morton (Z-order) interleave as native codegen'd expressions —
  * the clustering key behind multi-dimensional data layout: sorting
  * files by the interleaved bits of N scaled dimensions gives every
  * file a bounded min/max range in ALL N dimensions, so a predicate on
  * any subset prunes files, where a linear sort serves only its
  * leading column. This is the standard lakehouse Z-ORDER layout
  * technique, applied at write time by
  * [[graft.operators.SourceSinkQueries.sinkZorderLayout]] (2-D) and
  * its 3-D sibling (custkey × day × price bucket).
  *
  * The 2-D kernel is the textbook bit-spread: each 16-bit input fans
  * out to alternating bit positions via the classic magic-mask
  * doubling sequence, x taking even bits and y odd. The N-ary kernel
  * (N = 3, 4) places bit j of dimension i at position j·N + i; bits
  * per dimension shrink to ⌊63/N⌋ capped at 16 (21 → 16 at N = 3,
  * 15 at N = 4) so the key never reaches the sign bit — a negative
  * key would invert the ordering at the top of the range. All inputs
  * are expected pre-scaled; out-of-range bits are masked, never
  * thrown, because the z-value is a LAYOUT key, not data.
  */
object ZOrder {

  /** Usable bits per dimension for an N-ary interleave: the key must
    * stay inside a non-negative Long. */
  def bitsPerDim(n: Int): Int = math.min(16, 63 / n)

  /** Spread the low `bitsPerDim(n)` bits of `v` to positions
    * 0, n, 2n, … (a loop, not magic masks — runs once per row per
    * dimension inside codegen; ~16 shift-or ops). */
  def spreadBits(v: Int, n: Int): Long = {
    val bits = bitsPerDim(n)
    var out = 0L
    var j = 0
    while (j < bits) {
      out |= ((v >> j) & 1L) << (j * n)
      j += 1
    }
    out
  }

  /** N-ary Morton code: bit j of vals(i) lands at position j·N + i. */
  def mortonN(vals: Array[Int]): Long = {
    val n = vals.length
    var out = 0L
    var i = 0
    while (i < n) {
      out |= spreadBits(vals(i), n) << i
      i += 1
    }
    out
  }

  /** Inverse of [[mortonN]] for dimension `i` — the test/witness-side
    * round-trip check. */
  def collapseN(z: Long, n: Int, i: Int): Int = {
    val bits = bitsPerDim(n)
    var out = 0
    var j = 0
    while (j < bits) {
      out |= (((z >> (j * n + i)) & 1L) << j).toInt
      j += 1
    }
    out
  }

  /** Static 3-/4-ary entry points for generated code (one call per
    * row — argument arrays would defeat codegen). */
  def morton3(x: Int, y: Int, z: Int): Long =
    spreadBits(x, 3) | (spreadBits(y, 3) << 1) | (spreadBits(z, 3) << 2)
  def morton4(a: Int, b: Int, c: Int, d: Int): Long =
    spreadBits(a, 4) | (spreadBits(b, 4) << 1) |
      (spreadBits(c, 4) << 2) | (spreadBits(d, 4) << 3)

  /** Spread the low 16 bits of `v` to even bit positions (0,2,4,…30). */
  def spread16(v: Int): Long = {
    var x = v.toLong & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** Morton code of (x, y): x on even bits, y on odd. */
  def morton(x: Int, y: Int): Long =
    spread16(x) | (spread16(y) << 1)

  case class ZOrderValue(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "zorder_value"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (IntegerType, IntegerType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (int, int), got " +
            s"(${l.simpleString}, ${r.simpleString})")
      }
    override def nullSafeEval(x: Any, y: Any): Any =
      ZOrder.morton(x.asInstanceOf[Int], y.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) =>
        s"${ev.value} = graft.functions.ZOrder.morton($x, $y);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ZOrderValue =
      copy(left = newLeft, right = newRight)
  }

  case class ZOrderValue3(first: Expression, second: Expression,
      third: Expression) extends TernaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "zorder_value3"
    override def checkInputDataTypes(): TypeCheckResult =
      if (children.forall(_.dataType == IntegerType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (int, int, int), got " +
          children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
    override def nullSafeEval(x: Any, y: Any, z: Any): Any =
      ZOrder.morton3(x.asInstanceOf[Int], y.asInstanceOf[Int],
        z.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y, z) =>
        s"${ev.value} = graft.functions.ZOrder.morton3($x, $y, $z);")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): ZOrderValue3 =
      copy(first = f, second = s, third = t)
  }

  case class ZOrderValue4(first: Expression, second: Expression,
      third: Expression, fourth: Expression) extends QuaternaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "zorder_value4"
    override def checkInputDataTypes(): TypeCheckResult =
      if (children.forall(_.dataType == IntegerType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (int, int, int, int), got " +
          children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
    override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
      ZOrder.morton4(a.asInstanceOf[Int], b.asInstanceOf[Int],
        c.asInstanceOf[Int], d.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
        s"${ev.value} = graft.functions.ZOrder.morton4($a, $b, $c, $d);")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression,
        q: Expression): ZOrderValue4 =
      copy(first = f, second = s, third = t, fourth = q)
  }

  /** SQL `>` on doubles, exactly (SQLOrderingUtil semantics): the
    * primitive comparison when either side decides, else the NaN
    * arm — NaN is GREATER than every non-NaN and EQUAL to NaN, and
    * -0.0 == 0.0 (primitive `==` fires before the NaN arm). This is
    * what `when(col > lit(cut), ...)` evaluates, so [[bucketOf]]
    * replicates the indicator-sum chain bit-exactly (ZOrderSpec pins
    * it, NaN/tie/NULL rows included). */
  private def gtSql(v: Double, cut: Double): Boolean =
    if (v > cut) true
    else if (v < cut || v == cut) false
    else v.isNaN && !cut.isNaN // at least one side is NaN

  /** Bucket ordinal of `v` against sorted `cuts` under the SAME
    * semantics as the indicator-sum chain it replaces
    * (Σ over cuts of `if (v >sql cut) 1 else 0`): a binary search
    * for the first cut >= v. O(log cuts) per row instead of O(cuts)
    * CaseWhen nodes — the 63-deep chain blew past codegen comfort
    * and evaluated at ~15 µs/row. `cuts` must be sorted ascending
    * with NaN last (Scala's total ordering), consistent with
    * [[gtSql]]. */
  def bucketOf(v: Double, cuts: Array[Double]): Int = {
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (gtSql(v, cuts(mid))) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Equi-depth bucket ordinal as ONE codegen'd expression (r22):
    * replaces the `foldLeft(lit(0))(acc + when(c > cut, 1))`
    * indicator chain — identical output for every input including
    * NULL (the chain's `otherwise(0)` summed to 0 on NULL input, so
    * this expression is non-nullable and maps NULL to 0) and NaN
    * (under `gtSql` NaN compares greater than every non-NaN cut, so
    * it lands in bucket `cuts.length`). `cuts` ride the expression
    * as a referenced sorted array; order-independence of the count
    * makes defensive sorting semantics-free. */
  case class BucketIndex(child: Expression, cuts: Seq[Double])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    @transient private lazy val cutsArr: Array[Double] = cuts.toArray
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    override def prettyName: String = "bucket_index"
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case DoubleType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a double argument, got ${other.simpleString}")
      }
    override def eval(
        input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) 0
      else ZOrder.bucketOf(v.asInstanceOf[Double], cutsArr)
    }
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val cutsRef = ctx.addReferenceObj("cuts", cutsArr, "double[]")
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      ev.copy(code = code"""
        ${c.code}
        int ${ev.value} = 0;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.ZOrder.bucketOf(${c.value}, $cutsRef);
        }""", isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(
        newChild: Expression): BucketIndex = copy(child = newChild)
  }

  /** [[BucketIndex]] as a Column; cuts deduped + sorted (the count
    * semantics are order-independent, the search needs sortedness). */
  def bucketIndexCol(c: Column, cuts: Array[Double]): Column =
    ColumnBridge.column(
      BucketIndex(ColumnBridge.expression(c),
        cuts.distinct.sorted.toIndexedSeq))

  def zorderCol(x: Column, y: Column): Column =
    ColumnBridge.column(ZOrderValue(
      ColumnBridge.expression(x), ColumnBridge.expression(y)))

  /** N-ary dispatch (N = 2, 3, 4) — one codegen'd expression per arity. */
  def zorderColN(cols: Seq[Column]): Column = {
    val es = cols.map(ColumnBridge.expression)
    es.length match {
      case 2 => ColumnBridge.column(ZOrderValue(es(0), es(1)))
      case 3 => ColumnBridge.column(ZOrderValue3(es(0), es(1), es(2)))
      case 4 => ColumnBridge.column(ZOrderValue4(es(0), es(1), es(2), es(3)))
      case n => throw new IllegalArgumentException(
        s"zorder supports 2-4 dimensions, got $n")
    }
  }
}
