package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, Intersection, SetOperation, Sketches, Union}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._

/** Theta sketches (Apache DataSketches) as Catalyst aggregates — the
  * SET-OPERATION leg of the mergeable-sketch family next to HLL
  * (cardinality only), CMS (frequency) and KLL (quantiles).
  *
  * Why this exists when HLL already estimates distinct counts: HLL
  * unions but cannot INTERSECT or DIFFERENCE. A theta sketch is a
  * uniform hash sample of the distinct set, so |A∩B| ("users who did
  * BOTH click and purchase") and |A\B| come straight from materialized
  * per-segment sketches — the audience-overlap question every
  * engagement pipeline asks, answered without re-scanning either side
  * or shuffling user ids. At 100 TB: sketch each segment/day once
  * (few KB each), persist, compose set algebra later.
  *
  * [[ThetaSketchAgg]] builds a sketch over a LONG key column;
  * [[ThetaUnionAgg]] re-unions materialized sketch blobs. Driver-side
  * algebra lives in [[ThetaOps]] (intersect / aNotB / estimate).
  * Theta sampling depends on the hash of the inserted keys only, so
  * estimates are deterministic for a fixed key set — but blobs stay
  * out of hash-checked oracles anyway (same rule as HLL/KLL). */
case class ThetaSketchAgg(
    child: Expression,
    lgK: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_sketch expects bigint, got ${child.dataType.simpleString}")

  // the buffer is a Union wrapping an update sketch: update() inserts,
  // merge() unions — one type serves both phases
  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buf: Union, row: InternalRow): Union = {
    val v = child.eval(row)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: Union, b: Union): Union = {
    a.union(b.getResult)
    a
  }

  override def eval(buf: Union): Any = buf.getResult.toByteArrayCompressed

  override def serialize(buf: Union): Array[Byte] =
    buf.getResult.toByteArrayCompressed
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
    u.union(Sketches.wrapCompactSketch(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ThetaSketchAgg = copy(child = c.head)
}

/** Lossless re-union of materialized theta sketch blobs (per-shard →
  * global incremental path). */
case class ThetaUnionAgg(
    child: Expression,
    lgK: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_union expects binary sketch blobs, got " +
        child.dataType.simpleString)

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buf: Union, row: InternalRow): Union = {
    val v = child.eval(row)
    if (v != null)
      buf.union(Sketches.wrapCompactSketch(
        Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buf
  }

  override def merge(a: Union, b: Union): Union = {
    a.union(b.getResult)
    a
  }

  override def eval(buf: Union): Any = buf.getResult.toByteArrayCompressed

  override def serialize(buf: Union): Array[Byte] =
    buf.getResult.toByteArrayCompressed
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
    u.union(Sketches.wrapCompactSketch(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ThetaUnionAgg = copy(child = c.head)
}

object ThetaOps {
  /** Column builder: theta sketch over a bigint key column. */
  def thetaSketch(c: Column, lgK: Int = 12): Column =
    column(ThetaSketchAgg(expression(c), lgK).toAggregateExpression())

  /** Column builder: union of materialized sketch blobs. */
  def thetaUnion(c: Column, lgK: Int = 12): Column =
    column(ThetaUnionAgg(expression(c), lgK).toAggregateExpression())

  private def wrap(bytes: Array[Byte]): CompactSketch =
    Sketches.wrapCompactSketch(Memory.wrap(bytes))

  /** Distinct-count estimate of one sketch blob. */
  def estimate(bytes: Array[Byte]): Double = wrap(bytes).getEstimate

  /** |A ∩ B| estimate from two sketch blobs (driver-side algebra over
    * few-KB summaries — the point of materializing them). */
  def intersectEstimate(a: Array[Byte], b: Array[Byte]): Double = {
    val i: Intersection = SetOperation.builder().buildIntersection()
    i.intersect(wrap(a))
    i.intersect(wrap(b))
    i.getResult.getEstimate
  }

  /** |A \ B| estimate from two sketch blobs. */
  def aNotBEstimate(a: Array[Byte], b: Array[Byte]): Double =
    SetOperation.builder().buildANotB()
      .aNotB(wrap(a), wrap(b)).getEstimate
}
