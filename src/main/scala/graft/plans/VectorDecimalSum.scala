package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native aggregate: exact elementwise DECIMAL sum of an
  * `array<double>` column — `graft_vector_sum(arr, precision, scale)`.
  *
  * The Gram/moment backbone for embedding statistics (covariance, PCA,
  * mean pooling): each input row contributes a fixed-length vector of
  * doubles; every element is cast to DECIMAL(precision, scale) with the
  * engine's own cast semantics (HALF_UP, ANSI overflow error) and summed
  * exactly per position. Returns `array<double>` (each positional sum
  * cast back to double) — bit-identical to the composed
  * `posexplode → sum(cast(x AS DECIMAL(p,s))) → cast(DOUBLE)` pipeline,
  * because decimal addition is exact and order-independent.
  *
  * Why it exists: the composed pipeline materializes n·d (or n·d²/2 for
  * pair products) rows through explode + hash aggregation. This
  * aggregate keeps the work in-row — one O(d) buffer update per input
  * row, d-sized partial states merged per partition — so shuffle volume
  * is O(d · partitions) with no row explosion at all. At 100 TB that is
  * the difference between shuffling trillions of (key, product) rows
  * and shuffling kilobyte vectors.
  *
  * Contract: all non-null input arrays must share one length (ragged
  * input raises a named error — positional sums over mixed-dimension
  * vectors are a bug, not a feature); NaN/Infinity elements raise a
  * named error (they have no DECIMAL image — same outcome as the ANSI
  * cast in the composed pipeline, but named); null ELEMENTS are
  * skipped like SQL SUM skips nulls, and a position whose contributing
  * elements were ALL null evaluates to a null element — exactly what
  * the per-position SUM returns; zero input rows (or all-null arrays)
  * yield NULL. Buffer state is JVM BigDecimal (exact, unbounded) with
  * the DECIMAL(min(38, p+10), scale) result bound enforced at finish —
  * matching the engine's sum-over-DECIMAL(p, s) result type. */
case class VectorDecimalSum(
    child: Expression,
    precisionExpr: Expression,
    scaleExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[JBigDecimal]] {

  private lazy val precision: Int = precisionExpr.eval().asInstanceOf[Int]
  private lazy val scale: Int = scaleExpr.eval().asInstanceOf[Int]
  // a double cast to DECIMAL(p, s) overflows when it needs more than
  // p - s integer digits; precompute the bound once
  private lazy val castBound: JBigDecimal =
    JBigDecimal.TEN.pow(precision - scale)

  override def children: Seq[Expression] = Seq(child, precisionExpr, scaleExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    val okChild = child.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val okArgs = Seq(precisionExpr, scaleExpr).forall(e =>
      e.foldable && e.dataType == IntegerType && e.eval() != null)
    if (!okChild) TypeCheckResult.TypeCheckFailure(
      s"graft_vector_sum expects array<double>, got ${child.dataType.simpleString}")
    else if (!okArgs) TypeCheckResult.TypeCheckFailure(
      "graft_vector_sum precision/scale must be int literals")
    else if (precision < 1 || precision > 38 || scale < 0 || scale > precision)
      TypeCheckResult.TypeCheckFailure(
        s"graft_vector_sum: invalid DECIMAL($precision, $scale)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Array[JBigDecimal] = null

  override def update(buffer: Array[JBigDecimal],
                      input: InternalRow): Array[JBigDecimal] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return buffer
    val n = arr.numElements()
    // a null buffer entry = "no non-null element seen at this position
    // yet" — evaluates to a null element, matching per-position SUM
    val buf =
      if (buffer == null) new Array[JBigDecimal](n)
      else {
        if (buffer.length != n) throw new IllegalArgumentException(
          s"graft_vector_sum: ragged input arrays (${buffer.length} vs $n)")
        buffer
      }
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val raw = arr.getDouble(i)
        if (raw.isNaN || raw.isInfinite) throw new ArithmeticException(
          s"graft_vector_sum: non-finite element $raw has no DECIMAL value" +
            " — filter NaN/Infinity upstream")
        // the engine's double → DECIMAL(p, s) cast: shortest-repr
        // BigDecimal, HALF_UP to `scale`, ANSI error on overflow
        val d = JBigDecimal.valueOf(raw).setScale(scale, RoundingMode.HALF_UP)
        if (d.abs.compareTo(castBound) >= 0) throw new ArithmeticException(
          s"graft_vector_sum: $raw overflows DECIMAL($precision, $scale)")
        buf(i) = if (buf(i) == null) d else buf(i).add(d)
      }
      i += 1
    }
    buf
  }

  override def merge(buffer: Array[JBigDecimal],
                     other: Array[JBigDecimal]): Array[JBigDecimal] = {
    if (other == null) return buffer
    if (buffer == null) return other
    if (buffer.length != other.length) throw new IllegalArgumentException(
      s"graft_vector_sum: ragged partial states (${buffer.length} vs ${other.length})")
    var i = 0
    while (i < buffer.length) {
      if (buffer(i) == null) buffer(i) = other(i)
      else if (other(i) != null) buffer(i) = buffer(i).add(other(i))
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[JBigDecimal]): Any = {
    if (buffer == null) return null
    // the engine's SUM over DECIMAL(p, s) yields DECIMAL(min(38, p+10), s);
    // keep its overflow contract before casting back to double
    val sumBound = JBigDecimal.TEN.pow(math.min(38, precision + 10) - scale)
    val out = new Array[Any](buffer.length)
    var i = 0
    while (i < buffer.length) {
      if (buffer(i) != null) {
        if (buffer(i).abs.compareTo(sumBound) >= 0) throw new ArithmeticException(
          s"graft_vector_sum: positional sum overflows " +
            s"DECIMAL(${math.min(38, precision + 10)}, $scale)")
        out(i) = buffer(i).doubleValue()
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: Array[JBigDecimal]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    if (buffer == null) out.writeInt(-1)
    else {
      out.writeInt(buffer.length)
      var i = 0
      while (i < buffer.length) {
        if (buffer(i) == null) {
          // byte-length -1 marks a position that never saw a value
          out.writeInt(0)
          out.writeInt(-1)
        } else {
          val bytes = buffer(i).unscaledValue().toByteArray
          out.writeInt(buffer(i).scale())
          out.writeInt(bytes.length)
          out.write(bytes)
        }
        i += 1
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(storageFormat: Array[Byte]): Array[JBigDecimal] = {
    val in = new DataInputStream(new ByteArrayInputStream(storageFormat))
    val n = in.readInt()
    if (n < 0) null
    else Array.fill(n) {
      val s = in.readInt()
      val len = in.readInt()
      if (len < 0) null
      else {
        val bytes = new Array[Byte](len)
        in.readFully(bytes)
        new JBigDecimal(new java.math.BigInteger(bytes), s)
      }
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorDecimalSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorDecimalSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorDecimalSum =
    copy(child = newChildren(0), precisionExpr = newChildren(1),
      scaleExpr = newChildren(2))
  override def prettyName: String = "graft_vector_sum"
}
