package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
    extends HttpScanBuilder(schema) {
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
    limit: Int, file: String) extends JsonLinesReader(schema, filters, limit) {
  private val source = scala.io.Source.fromFile(file, "UTF-8")
  override protected val lines: Iterator[String] = source.getLines()
  override def close(): Unit = source.close()
}
