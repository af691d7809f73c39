package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write-only sink that materializes every row of a frame, like Spark's
  * `noop` sink, and returns an order-independent fingerprint of the rows.
  *
  * The fingerprint is the comparison `tools/localcheck.py` makes: the
  * sorted column names, the row count, and a hash of the multiset of rows.
  * Each row is rendered with its columns in sorted-name order (see
  * [[Canon]]), digested with MD5, and the first 8 bytes of each digest are
  * summed modulo 2^64. `perfbench/check.py` renders DuckDB oracle rows the
  * same way, so the two sides compare without writing the result anywhere.
  */
final class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new HashSink.SinkTable(schema)
}

object HashSink {
  final case class Fingerprint(columns: Seq[String], rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
  }

  private val results = new java.util.concurrent.ConcurrentHashMap[String, Fingerprint]()
  private val tokens = new java.util.concurrent.atomic.AtomicLong()

  /** Materialize `df` in full and return its fingerprint. */
  def run(df: DataFrame): Fingerprint = {
    val token = s"t${tokens.incrementAndGet()}"
    df.write.format(classOf[HashSink].getName).option("token", token)
      .mode("overwrite").save()
    results.remove(token)
  }

  final class SinkTable(tableSchema: StructType) extends Table with SupportsWrite {
    override def name(): String = "perfbench_hash"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite =
            new Batch(info.schema(), info.options().get("token"))
        }
      }
  }

  final case class Partial(rows: Long, sum: Long) extends WriterCommitMessage

  final class Batch(schema: StructType, token: String) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def useCommitCoordinator(): Boolean = false
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Partial => p }
      results.put(token, Fingerprint(schema.fieldNames.toSeq.sorted,
        parts.map(_.rows).sum, parts.map(_.sum).sum))
      ()
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new Writer(schema)
  }

  final class Writer(schema: StructType) extends DataWriter[InternalRow] {
    private val order = schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)
    private val md5 = java.security.MessageDigest.getInstance("MD5")
    private val sb = new java.lang.StringBuilder
    private var rows = 0L
    private var sum = 0L

    override def write(row: InternalRow): Unit = {
      sb.setLength(0)
      var i = 0
      while (i < order.length) {
        if (i > 0) sb.append('\u0001')
        val c = order(i)
        Canon.append(sb, row, c, schema.fields(c).dataType)
        i += 1
      }
      val d = md5.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      rows += 1
    }
    override def commit(): WriterCommitMessage = Partial(rows, sum)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}

/** Canonical text of one value, shared with `perfbench/check.py`:
  * NULL and NaN are `\u0000N`; integers are decimal; floating values are
  * the signed 64-bit IEEE bits of the value as a double (so, as with
  * Python's `repr`, equal text means bit-equal values); decimals keep
  * their scale; dates are days and timestamps microseconds since the
  * epoch; binary is hex; arrays are `[a,b]` and structs `{a,b}`.
  */
object Canon {
  def append(sb: java.lang.StringBuilder, g: SpecializedGetters, i: Int, t: DataType): Unit =
    if (g.isNullAt(i)) sb.append("\u0000N")
    else t match {
      case BooleanType => sb.append(g.getBoolean(i))
      case ByteType => sb.append(g.getByte(i).toLong)
      case ShortType => sb.append(g.getShort(i).toLong)
      case IntegerType | DateType => sb.append(g.getInt(i))
      case LongType | TimestampType | TimestampNTZType => sb.append(g.getLong(i))
      case FloatType => double(sb, g.getFloat(i).toDouble)
      case DoubleType => double(sb, g.getDouble(i))
      case d: DecimalType => sb.append(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString)
      case _: StringType => sb.append(g.getUTF8String(i).toString)
      case BinaryType => g.getBinary(i).foreach(b => sb.append(f"$b%02x"))
      case a: ArrayType =>
        val arr = g.getArray(i)
        sb.append('[')
        var j = 0
        while (j < arr.numElements()) {
          if (j > 0) sb.append(',')
          append(sb, arr, j, a.elementType)
          j += 1
        }
        sb.append(']')
      case s: StructType =>
        val r = g.getStruct(i, s.size)
        sb.append('{')
        s.fields.indices.foreach { j =>
          if (j > 0) sb.append(',')
          append(sb, r, j, s.fields(j).dataType)
        }
        sb.append('}')
      case other => throw new IllegalArgumentException(s"no canonical form for $other")
    }

  private def double(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("\u0000N")
    else sb.append(java.lang.Double.doubleToRawLongBits(d))
}
