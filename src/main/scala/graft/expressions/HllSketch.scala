package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** HyperLogLog sketch family — the mergeable distinct-counter for the
  * sketch-TABLE pattern Spark's built-in `approx_count_distinct`
  * cannot express: built-in HLL lives and dies inside one aggregation,
  * while a 100 TB pipeline wants per-day / per-partition sketches
  * PERSISTED as binary columns and merged later (cross-day rollups,
  * late partitions, incremental refresh) without rescanning the data.
  *
  *  - [[HllAgg]] (`graft_hll_agg(key BIGINT, p)`) folds raw keys into a
  *    2^p-register sketch;
  *  - [[HllMergeAgg]] (`graft_hll_merge(sketch)`) folds STORED sketches
  *    into one (register-wise max — associative, commutative,
  *    idempotent, so partials combine in any order and re-merging a
  *    sketch is harmless);
  *  - [[HllEstimate]] (`graft_hll_est(sketch)`) reads the estimate out
  *    as a codegen'd scalar.
  *
  * Algorithm per Flajolet et al. 2007 ("HyperLogLog: the analysis of a
  * near-optimal cardinality estimation algorithm"): register j =
  * max rank of the first 1-bit among keys routed to j by their top p
  * hash bits; estimate = alpha_m * m^2 / sum(2^-reg), with the paper's
  * small-range linear-counting correction (m * ln(m/V) while E <= 2.5m
  * and empty registers remain). The 64-bit hash (splitmix64, shared
  * with [[BloomSketch]]) removes the paper's large-range correction —
  * collisions are negligible below 2^57 distinct keys. Standard error
  * is 1.04/sqrt(m): p=12 → 4096 one-byte registers (4 KB a sketch) and
  * ~1.6%. Estimates are DETERMINISTIC for a given key set — register
  * max commutes, so partitioning and merge order cannot change the
  * result — which is what lets the battery gate the measured error
  * in-plan and hash-pin everything else.
  *
  * Serialized layout: 4-byte big-endian p, then 2^p register bytes.
  */
object HllSketch {

  def numRegisters(p: Int): Int = 1 << p

  /** Route one key into the register array. */
  def add(regs: Array[Byte], p: Int, key: Long): Unit = {
    val h = BloomSketch.mix(key)
    val idx = (h >>> (64 - p)).toInt
    val w = h << p
    // rank in [1, 64-p+1]; w == 0 (all remaining bits zero) takes the cap
    val rank = if (w == 0L) 65 - p else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rank > (regs(idx) & 0xFF)) regs(idx) = rank.toByte
  }

  def mergeInto(into: Array[Byte], from: Array[Byte]): Unit = {
    var i = 0
    while (i < into.length) {
      if ((from(i) & 0xFF) > (into(i) & 0xFF)) into(i) = from(i)
      i += 1
    }
  }

  private def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  def pack(regs: Array[Byte], p: Int): Array[Byte] = {
    val out = new Array[Byte](4 + regs.length)
    out(0) = (p >>> 24).toByte; out(1) = (p >>> 16).toByte
    out(2) = (p >>> 8).toByte; out(3) = p.toByte
    System.arraycopy(regs, 0, out, 4, regs.length)
    out
  }

  def unpackRegs(bytes: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOfRange(bytes, 4, bytes.length)

  /** Codegen target: estimate straight off the packed bytes. */
  def estimatePacked(bytes: Array[Byte]): Long = {
    val m = bytes.length - 4
    var invSum = 0.0
    var zeros = 0
    var i = 4
    while (i < bytes.length) {
      val r = bytes(i) & 0xFF
      invSum += java.lang.Math.pow(2.0, -r)
      if (r == 0) zeros += 1
      i += 1
    }
    val e = alpha(m) * m.toDouble * m.toDouble / invSum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * java.lang.Math.log(m.toDouble / zeros)
      else e
    java.lang.Math.round(corrected)
  }
}

/** `graft_hll_agg(key BIGINT, p) -> BINARY` — fold raw keys into a
  * fresh sketch. NULL keys are skipped (matching count(DISTINCT)'s
  * null handling). */
case class HllAgg(
    child: Expression, p: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with UnaryLike[Expression] {

  require(p >= 4 && p <= 16, s"graft_hll_agg: p must be in [4, 16], got $p")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hll_agg needs a BIGINT key column, got ${child.dataType.simpleString}")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_agg"

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](HllSketch.numRegisters(p))

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllSketch.add(buf, p, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    HllSketch.mergeInto(buf, other)
    buf
  }

  override def eval(buf: Array[Byte]): Any = HllSketch.pack(buf, p)

  override def serialize(buf: Array[Byte]): Array[Byte] = HllSketch.pack(buf, p)

  override def deserialize(bytes: Array[Byte]): Array[Byte] =
    HllSketch.unpackRegs(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HllAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): HllAgg =
    copy(child = newChild)
}

/** `graft_hll_merge(sketch BINARY) -> BINARY` — fold STORED sketches
  * (the rollup half of the sketch-table pattern). All inputs must share
  * one precision; mixing widths is a hard error, not a silent resize.
  * The buffer starts empty and adopts the first sketch's width, so the
  * same expression works at any precision. NULL sketches are skipped;
  * a group with only NULLs yields an empty 0-register sketch
  * (estimate 0), mirroring how `graft_hll_agg` treats an empty group.
  */
case class HllMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hll_merge needs a BINARY sketch column, got ${child.dataType.simpleString}")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_merge"

  // sentinel empty buffer: width adopted from the first sketch seen
  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def combine(buf: Array[Byte], sketch: Array[Byte]): Array[Byte] = {
    val regs = HllSketch.unpackRegs(sketch)
    if (buf.isEmpty) regs
    else {
      require(buf.length == regs.length,
        s"graft_hll_merge: mixed sketch widths (${buf.length} vs ${regs.length} registers)")
      HllSketch.mergeInto(buf, regs)
      buf
    }
  }

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf else combine(buf, v.asInstanceOf[Array[Byte]])
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.isEmpty) buf
    else if (buf.isEmpty) other
    else { HllSketch.mergeInto(buf, other); buf }

  override def eval(buf: Array[Byte]): Any = {
    // p recovered from width; an empty merge emits a 0-register sketch
    val p = if (buf.isEmpty) 0 else Integer.numberOfTrailingZeros(buf.length)
    HllSketch.pack(buf, p)
  }

  override def serialize(buf: Array[Byte]): Array[Byte] =
    HllSketch.pack(buf, if (buf.isEmpty) 0 else Integer.numberOfTrailingZeros(buf.length))

  override def deserialize(bytes: Array[Byte]): Array[Byte] =
    HllSketch.unpackRegs(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): HllMergeAgg =
    copy(child = newChild)
}

/** `graft_hll_est(sketch BINARY) -> BIGINT` — the codegen'd estimate
  * readout. An empty (0-register) sketch estimates 0. */
case class HllEstimate(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hll_est needs a BINARY sketch column, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hll_est"

  override protected def nullSafeEval(sketch: Any): Any = {
    val bytes = sketch.asInstanceOf[Array[Byte]]
    if (bytes.length <= 4) 0L else HllSketch.estimatePacked(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, sketch =>
      s"($sketch.length <= 4) ? 0L : graft.expressions.HllSketch.estimatePacked($sketch)")

  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}
