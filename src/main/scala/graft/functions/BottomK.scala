package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst aggregate: the k lexicographically smallest DISTINCT
  * values of a string column — the KMV (k-minimum-values) bottom-k
  * sketch when fed a uniform hash. This is the preference-order (b)
  * path applied to an AGGREGATE: `TypedImperativeAggregate` gives a
  * bounded O(k) buffer with partial aggregation — each partition
  * reduces to ≤ k values before the shuffle, merges are k-bounded, so
  * the operator runs at any corpus size with constant state.
  *
  * Unlike reservoir sampling, the result is a pure FUNCTION OF THE SET
  * (order- and partitioning-independent), so it is exactly
  * reproducible by any engine: feed it md5(x) and the bottom-k list is
  * deterministic, the distinct-count estimate (k-1)/frac(h_k) falls
  * out, and the sketch of a union is the merge of the sketches.
  */
case class BottomKStrings(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.TreeSet[String]] {

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bottom_k needs a string argument, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): mutable.TreeSet[String] =
    mutable.TreeSet.empty[String]

  private def add(buf: mutable.TreeSet[String], s: String): Unit = {
    // Insert-then-trim keeps the set at the k smallest distinct values;
    // TreeSet.last is the current maximum.
    buf += s
    if (buf.size > k) buf -= buf.last
  }

  override def update(
      buf: mutable.TreeSet[String], input: InternalRow)
      : mutable.TreeSet[String] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(
      b1: mutable.TreeSet[String], b2: mutable.TreeSet[String])
      : mutable.TreeSet[String] = {
    b2.foreach(add(b1, _))
    b1
  }

  override def eval(buf: mutable.TreeSet[String]): Any =
    new GenericArrayData(buf.toSeq.map(UTF8String.fromString))

  override def serialize(buf: mutable.TreeSet[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeUTF)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.TreeSet.empty[String]
    var i = 0
    while (i < n) { buf += in.readUTF(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKStrings =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKStrings =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "bottom_k"
}

object BottomKStrings {

  /** `bottom_k(col, k)` as a Column aggregate. */
  def asColumn(c: Column, k: Int): Column =
    ColumnBridge.column(
      BottomKStrings(ColumnBridge.expression(c), k).toAggregateExpression())

  /** sketch_bottomk driver query — KMV sketch of the customer-name set:
    * the 16 smallest md5 hashes, one output row per rank. Deterministic
    * for ANY partitioning of the input, which is what the oracle
    * (a plain ORDER BY ... LIMIT in an external engine) checks. */
  def sketchQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 16
    val hashes = graft.operators.Relational.table(spark, dir, "customer")
      .agg(asColumn(md5(col("c_name").cast("binary")), k).as("hs"))
      .select(posexplode(col("hs")).as(Seq("rank0", "h")))
      .select((col("rank0") + 1).cast("int").as("rank"), col("h"))
      .orderBy("rank")
    hashes
  }
}
