package perfbench

import java.math.RoundingMode
import java.util
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `noop` sink plus an output check: every row of the written plan
  * is evaluated and dropped, and the committed row count and content
  * checksum are kept for the caller. Checking a query's output therefore
  * adds no job and leaves the measured plan the same V2 write a `noop`
  * write would run; the sink only hashes the rows it receives. */
class CountingSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = CountingTable
}

/** Rows written and their order-insensitive checksum. */
final case class Written(rows: Long, checksum: String)

object CountingSink {
  val format: String = classOf[CountingSink].getName
  private[perfbench] val committed = new AtomicReference[Written](null)

  /** What the last write committed, or None if nothing was committed since
    * the previous call. */
  def take(): Option[Written] = Option(committed.getAndSet(null))
}

private object CountingTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-counting-sink"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new CountingBatchWrite(info.schema().fields.map(_.dataType))
      }
    }
}

private final case class Part(rows: Long, sum: Long) extends WriterCommitMessage

private final class CountingBatchWrite(types: Array[DataType]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CountingWriterFactory(types)
  override def useCommitCoordinator(): Boolean = false
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: Part => p }
    CountingSink.committed.set(Written(parts.map(_.rows).sum,
      java.lang.Long.toHexString(parts.map(_.sum).sum)))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class CountingWriterFactory(types: Array[DataType]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var sum = 0L
      override def write(record: InternalRow): Unit = {
        rows += 1
        sum += RowHash.fields(record, types)
      }
      override def commit(): WriterCommitMessage = Part(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** A 64-bit hash of a row's values. Rows are summed, so the checksum does
  * not depend on row order or partitioning. Doubles are rounded to 4
  * decimals first, so a last-bit difference in a floating sum does not read
  * as a wrong answer; map entries are summed, so their order does not
  * matter either. */
private[perfbench] object RowHash {
  def fields(g: SpecializedGetters, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) {
      h = h * 31 + value(g, i, types(i))
      i += 1
    }
    mix(h)
  }

  private def value(g: SpecializedGetters, i: Int, t: DataType): Long =
    if (g.isNullAt(i)) 0x5bd1e995L
    else t match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => g.getByte(i).toLong
      case ShortType => g.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => g.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType => g.getLong(i)
      case FloatType => quantize(g.getFloat(i).toDouble)
      case DoubleType => quantize(g.getDouble(i))
      case d: DecimalType => g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
        .setScale(4, RoundingMode.HALF_UP).hashCode.toLong
      case _: StringType => g.getUTF8String(i).hashCode.toLong
      case BinaryType => util.Arrays.hashCode(g.getBinary(i)).toLong
      case ArrayType(e, _) =>
        val a = g.getArray(i)
        (0 until a.numElements()).foldLeft(19L)((h, j) => h * 31 + value(a, j, e))
      case s: StructType => fields(g.getStruct(i, s.length), s.fields.map(_.dataType))
      case MapType(k, v, _) =>
        val m = g.getMap(i)
        (0 until m.numElements()).map(j =>
          mix(value(m.keyArray(), j, k) * 31 + value(m.valueArray(), j, v))).sum
      case other => g.get(i, other).toString.hashCode.toLong
    }

  private def quantize(x: Double): Long =
    if (x.isNaN) 0x7ff8000000000000L
    else if (x.isInfinite) (if (x > 0) 0x7ff0000000000000L else 0xfff0000000000000L)
    else math.round(x * 1e4)

  /** MurmurHash3's 64-bit finalizer. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
}
