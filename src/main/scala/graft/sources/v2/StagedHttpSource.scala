package graft.sources.v2

import java.util


import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for staged HTTP JSON payloads (the scale
  * path for SURVEY.md §2.1 S1–S5).
  *
  * The reference pushes work to the server: `querylog?search={client}
  * &limit=1` (dags/DNS_Requests.py:108). This connector mirrors that at
  * the Spark level: equality filters on string fields and LIMIT are
  * *pushed into the source* (in production they become query params of
  * the fetch; here they prune the staged read), and each staged page
  * file becomes its own InputPartition — the per-endpoint/per-page
  * parallel fetch layout.
  *
  * Usage:
  *   spark.read.format("graft.sources.v2.StagedHttpSource")
  *     .option("path", "/staged/dir-or-file.jsonl")
  *     .option("schemaDDL", "client STRING, oldest STRING")
  *     .load()
  *
  * Supported field types: STRING, BIGINT/INT, BOOLEAN, DOUBLE — the
  * reference's payload surface (FIXTURES.md §A).
  */
class StagedHttpSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType.fromDDL(options.get("schemaDDL"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StagedHttpTable(schema, properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

class StagedHttpTable(schema: StructType, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"staged_http($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StagedHttpScanBuilder(schema, path)
}

class StagedHttpScanBuilder(schema: StructType, path: String)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownLimit {
  private var pushedLimit: Int = -1
  private var pushed: Array[Filter] = Array.empty

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

  override def build(): Scan =
    new StagedHttpScan(schema, path, pushed, pushedLimit)
}

class StagedHttpScan(schema: StructType, path: String,
    filters: Array[Filter], limit: Int) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"StagedHttpScan(path=$path, pushedFilters=${filters.mkString(",")}, " +
      s"pushedLimit=$limit)"

  /** One partition per staged page file = per-endpoint fetch slot. */
  override def planInputPartitions(): Array[InputPartition] = {
    val f = new java.io.File(path)
    val files =
      if (f.isDirectory) f.listFiles().filter(_.isFile).map(_.getAbsolutePath).sorted
      else Array(path)
    files.map(p => StagedFilePartition(p): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StagedHttpReaderFactory(schema, filters, limit)
}

case class StagedFilePartition(file: String) extends InputPartition

class StagedHttpReaderFactory(schema: StructType, filters: Array[Filter],
    limit: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new StagedHttpReader(schema, filters, limit,
      partition.asInstanceOf[StagedFilePartition].file)
}

class StagedHttpReader(schema: StructType, filters: Array[Filter],
    limit: Int, file: String) extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val eqFilters: Map[String, String] =
    filters.collect { case EqualTo(a, v: String) => a -> v }.toMap
  private val source = scala.io.Source.fromFile(file, "UTF-8")
  private val lines = source.getLines()
  private var emitted = 0
  private var current: InternalRow = _

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
        case dt => throw new UnsupportedOperationException(dt.simpleString)
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
  override def close(): Unit = source.close()
}
