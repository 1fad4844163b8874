package graft.sources.v2

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{PartitionReader, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownLimit}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Push-down shared by [[StagedHttpSource]] and [[LiveHttpSource]]:
  * the pushed filters and limit become the fetch's query params (the
  * staged source prunes its read with them instead). Each source
  * builds its own scan from `pushed` and `pushedLimit`. */
abstract class HttpScanBuilder(schema: StructType)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownLimit {
  protected var pushedLimit: Int = -1
  protected var pushed: Array[Filter] = Array.empty

  /** Equality on a string field maps to a server-side search param —
    * push it; everything else stays a Spark-side residual. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (push, residual) = filters.partition {
      case EqualTo(attr, _: String) =>
        schema.fields.exists(f => f.name == attr && f.dataType == StringType)
      case _ => false
    }
    pushed = push
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT n maps to the fetch's `limit=` param — per partition, which
    * is the strongest guarantee a partitioned source can give. */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = limit
    true // partial: Spark still applies the global limit
  }
}

/** JSONL decode shared by the two HTTP readers: each non-blank line of
  * `lines` is parsed, the pushed equality filters and limit are
  * re-applied (so a server that ignores its params cannot change
  * results), and the fields are read against the declared schema.
  * STRING, BIGINT/INT, BOOLEAN and DOUBLE decode here; a subclass adds
  * other types through [[decodeOther]]. */
abstract class JsonLinesReader(schema: StructType, filters: Array[Filter],
    limit: Int) extends PartitionReader[InternalRow] {
  protected val mapper = new ObjectMapper()
  private val eqFilters: Map[String, String] =
    filters.collect { case EqualTo(a, v: String) => a -> v }.toMap
  private var emitted = 0
  private var current: InternalRow = _

  /** The partition's payload lines, read lazily by [[next]]. */
  protected def lines: Iterator[String]

  /** Decode a non-null field of a type outside the five scalar cases. */
  protected def decodeOther(dt: DataType, n: JsonNode): Any =
    throw new UnsupportedOperationException(dt.simpleString)

  private def matches(node: JsonNode): Boolean =
    eqFilters.forall { case (k, v) =>
      node.has(k) && node.get(k).asText() == v
    }

  private def toRow(node: JsonNode): InternalRow =
    InternalRow.fromSeq(schema.fields.toSeq.map { f =>
      val n = node.get(f.name)
      if (n == null || n.isNull) null
      else f.dataType match {
        case StringType => UTF8String.fromString(n.asText())
        case LongType => n.asLong()
        case IntegerType => n.asInt()
        case BooleanType => n.asBoolean()
        case DoubleType => n.asDouble()
        case dt => decodeOther(dt, n)
      }
    })

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (lines.hasNext) {
      val line = lines.next().trim
      if (line.nonEmpty) {
        val node = mapper.readTree(line)
        if (matches(node)) {
          current = toRow(node)
          emitted += 1
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = current
}
