package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitter summary as a `TypedImperativeAggregate` —
  * the engine's custom-UDAF rung of the extension ladder (native unary
  * expressions, optimizer rules, a planner strategy + physical operator,
  * and a DataSource V2 are the other rungs; this one exercises the
  * object-buffer aggregate path: initialize / update / MERGE /
  * serialize between them).
  *
  * Semantics (Misra & Gries '82; merge rule per Agarwal et al., PODS'12
  * "Mergeable Summaries"): at most k counters survive. `update` on a
  * tracked value increments it; on an untracked value with a free slot,
  * inserts it; otherwise decrements EVERY counter (dropping zeros) —
  * the classic "cancel k+1 distinct votes" step. `merge` adds the two
  * counter sets, then if more than k survive, subtracts the (k+1)-st
  * largest count from all and drops the non-positive. Guarantees, both
  * order-independent and spec-gated: every value with true count
  * > N/(k+1) is present, and for any tracked value
  * `true − N/(k+1) ≤ estimate ≤ true`.
  *
  * Exactness regime: when a group's distinct-value count never exceeds
  * k, no decrement ever fires on ANY update/merge order, so the
  * estimates are the exact counts — that regime is what the registry
  * query oracles against DuckDB's plain GROUP BY (the sub-k regime is
  * merge-order-dependent by construction, so its bounds are gated in
  * the spec, not hash-compared).
  *
  * Output: `array<struct<value:string, cnt:long>>`, ordered by
  * (cnt DESC, value) — deterministic for a deterministic counter set.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k >= 1, s"misra_gries needs k >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf // count(col) convention: nulls don't vote
    val s = v.toString
    if (buf.contains(s)) buf(s) += 1L
    else if (buf.size < k) buf(s) = 1L
    else {
      // decrement-all: cancels one vote of each tracked value plus this one
      val dead = mutable.ArrayBuffer.empty[String]
      buf.keysIterator.foreach { key =>
        val n = buf(key) - 1L
        if (n <= 0L) dead += key else buf(key) = n
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (s, n) => buf(s) = buf.getOrElse(s, 0L) + n }
    if (buf.size > k) {
      // subtract the (k+1)-st largest count, drop the non-positive
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - (k + 1)) // (k+1)-st largest
      val dead = mutable.ArrayBuffer.empty[String]
      buf.keysIterator.foreach { key =>
        val n = buf(key) - cut
        if (n <= 0L) dead += key else buf(key) = n
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val rows = buf.toArray
      .sortBy { case (s, n) => (-n, s) }
      .map { case (s, n) =>
        InternalRow(UTF8String.fromString(s), n)
      }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (s, n) =>
      val b = s.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(n)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf(new String(b, "UTF-8")) = in.readLong()
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int)
      : MisraGriesAgg = copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int)
      : MisraGriesAgg = copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "misra_gries"
}

object MisraGries {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.bridge

  /** DataFrame-facing aggregate column: `misraGries(col("w"), 64)`. */
  def misraGries(c: Column, k: Int): Column =
    bridge.column(MisraGriesAgg(bridge.expression(c), k)
      .toAggregateExpression())
}
