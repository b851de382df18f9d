package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** `count_histogram(value, weight)` — the exact weighted count of every
  * distinct value of a double or string column, null being one more value:
  * the drift checks' sufficient statistic. A native
  * `TypedImperativeAggregate`, so it rides a `groupBy` next to the other
  * per-group aggregates; its state grows with the column's value domain,
  * never with the row count. Doubles group as `groupBy` does (-0.0 is 0.0,
  * every NaN one value). Rows with a null weight are skipped, which is how
  * one aggregation folds one column's histogram out of a long
  * (column, value, count) table. Result: `array<struct<value, count>>`,
  * null value first, then ascending; empty when no row was counted. */
case class CountHistogramAgg(
    child: Expression,
    weight: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Any, Long]] {

  private def isString: Boolean = child.dataType == StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(DoubleType, StringType).contains(child.dataType) && weight.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("count_histogram takes a double or string value " +
      s"and a bigint weight, not ${child.dataType.simpleString}, ${weight.dataType.simpleString}")

  override def createAggregationBuffer(): mutable.HashMap[Any, Long] = mutable.HashMap.empty

  private def add(buf: mutable.HashMap[Any, Long], key: Any, n: Long): Unit = {
    val k = key match {
      case d: java.lang.Double => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
      case other => other
    }
    buf.get(k) match {
      case Some(c) => buf(k) = c + n
      // an input UTF8String may point into a reused row buffer: own the key
      case None => buf(k match { case s: UTF8String => s.clone(); case o => o }) = n
    }
  }

  override def update(buf: mutable.HashMap[Any, Long], input: InternalRow): mutable.HashMap[Any, Long] = {
    val w = weight.eval(input)
    if (w != null) add(buf, child.eval(input), w.asInstanceOf[Long])
    buf
  }

  override def merge(buf: mutable.HashMap[Any, Long],
                     other: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
    other.foreach { case (k, n) => add(buf, k, n) }
    buf
  }

  override def eval(buf: mutable.HashMap[Any, Long]): Any = {
    val ord: Ordering[Any] = Ordering.fromLessThan((a, b) =>
      if (a == null) b != null else if (b == null) false
      else if (isString) a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]) < 0
      else java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double]) < 0)
    new GenericArrayData(buf.toArray.sortBy(_._1)(ord).map { case (k, n) => InternalRow(k, n): Any })
  }

  override def serialize(buf: mutable.HashMap[Any, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, n) =>
      out.writeBoolean(k == null)
      k match {
        case null =>
        case s: UTF8String => val b = s.getBytes; out.writeInt(b.length); out.write(b)
        case d: java.lang.Double => out.writeDouble(d)
      }
      out.writeLong(n)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Any, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = mutable.HashMap.empty[Any, Long]
    (0 until in.readInt()).foreach { _ =>
      val k: Any =
        if (in.readBoolean()) null
        else if (isString) { val b = new Array[Byte](in.readInt()); in.readFully(b); UTF8String.fromBytes(b) }
        else in.readDouble()
      buf(k) = in.readLong()
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", child.dataType, nullable = true),
    StructField("count", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, weight)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), weight = newChildren(1))
  override def withNewMutableAggBufferOffset(newOffset: Int): CountHistogramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountHistogramAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "count_histogram"
}

object CountHistogram {
  /** Column-API entry: `CountHistogram(col("n_tok").cast("double"))` counts
    * rows per value; pass `weight` to add up a count column instead. */
  def apply(value: Column, weight: Column = lit(1L)): Column =
    GraftSql.toColumn(CountHistogramAgg(GraftSql.toExpression(value),
      GraftSql.toExpression(weight.cast(LongType))).toAggregateExpression())
}
