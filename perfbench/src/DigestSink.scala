package org.apache.spark.graftbench

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A write target like Spark's `noop` sink that also fingerprints what it
  * is given: the row count and an order-insensitive digest (the sum of a
  * 64-bit hash per row). It materialises every column, as `noop` does, so
  * the plan it times is the plan `graft.Bench` times, plus one hash per row.
  *
  * `df.write.format(classOf[DigestSink].getName).mode("overwrite").save()`
  * then [[DigestSink.take]] returns (rows, digest) of that write. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = DigestTable
}

object DigestSink {
  private val last = new AtomicReference[(Long, Long)]()

  /** (rows, digest) of the last committed write, and clears it. */
  def take(): (Long, Long) = last.getAndSet(null)

  private[graftbench] def commit(rows: Long, digest: Long): Unit = last.set((rows, digest))
}

private object DigestTable extends Table with SupportsWrite {
  override def name(): String = "graftbench-digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(info.schema())
      }
    }
}

private case class DigestMessage(rows: Long, digest: Long) extends WriterCommitMessage

private class DigestBatchWrite(schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: DigestMessage => m }
    DigestSink.commit(ms.map(_.rows).sum, ms.map(_.digest).sum)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var digest = 0L
      override def write(row: InternalRow): Unit = {
        rows += 1
        digest += RowHash.row(row, schema)
      }
      override def commit(): WriterCommitMessage = DigestMessage(rows, digest)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** 64-bit hash of a row's values, by data type. Doubles hash by their bits,
  * so any change in a result value changes the digest. */
private[graftbench] object RowHash {
  private def mix(h0: Long): Long = { // splitmix64 finaliser
    var z = h0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def bytes(b: Array[Byte]): Long = {
    import scala.util.hashing.MurmurHash3.bytesHash
    (bytesHash(b, 0x3c6ef372).toLong << 32) ^ (bytesHash(b, 0x1b873593).toLong & 0xffffffffL)
  }
  private def seq(n: Int, h0: Long)(f: Int => Long): Long = {
    var h = mix(h0 ^ n)
    var i = 0
    while (i < n) { h = mix(h * 31 + f(i)); i += 1 }
    h
  }

  def value(v: Any, dt: DataType): Long = if (v == null) 0x6a09e667L else dt match {
    case DoubleType => mix(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    case FloatType => mix(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong)
    case BooleanType => if (v.asInstanceOf[Boolean]) 0x1234L else 0x4321L
    case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      seq(a.numElements(), 0x5bd1e995L)(i => value(a.get(i, et), et))
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map(i =>
        mix(value(ks.get(i, kt), kt) * 31 + value(vs.get(i, vt), vt))).sum
    case s: StructType => row(v.asInstanceOf[InternalRow], s)
    case _: DecimalType | _: CalendarIntervalType | _: ObjectType | _: UserDefinedType[_] =>
      bytes(v.toString.getBytes("UTF-8"))
    case _ => mix(v.asInstanceOf[Number].longValue()) // integral, date, timestamp
  }

  def row(r: InternalRow, schema: StructType): Long =
    seq(schema.length, 0x7f4a7c15L)(i => value(r.get(i, schema(i).dataType), schema(i).dataType))
}
