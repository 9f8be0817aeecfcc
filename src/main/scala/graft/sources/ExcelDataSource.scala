package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 front-end for the OOXML reader (S11) —
  * `spark.read.format("graft-excel").load(path)`.
  *
  * The one way Spark reads a workbook (`Excel.readFeed` goes through it
  * too), as a first-class source: the workbook is parsed on the EXECUTOR
  * inside a `PartitionReader`, column pruning is pushed into the scan
  * (`SupportsPushDownRequiredColumns` — a `select(one_col)` reads only that
  * header's cells into rows), and the source composes with everything a
  * real table does (SQL `USING graft-excel`, joins, caching). All columns
  * are strings, header = row 1, exactly like the CSV feed path — casts are
  * the engine's job downstream.
  *
  * The path may be a single workbook, a DIRECTORY (all `*.xlsx` AND legacy
  * `*.xls` inside, sorted), or a `*`/`?` glob — one partition per workbook,
  * so a directory of mapping files parses in parallel across executors.
  * The path spec expands to concrete files ONCE, at table creation
  * ([[ExcelDataSource.getTable]]) — the scan partitions always match that
  * snapshot even if files appear/disappear afterwards. `inferSchema` does
  * its own earlier expansion to find the first header; a directory whose
  * first-sorted workbook changes between those two moments is the one
  * (small, static mapping dirs in practice) race left undefined. Sheet XML itself
  * is not splittable, and the sanctioned inputs are small dim/mapping
  * files (README.md:19-20); paths must be visible from executors
  * (local/NFS). The schema comes from the first workbook's header; other workbooks are
  * matched by header NAME per file (a column absent from a workbook reads
  * as null — union-by-name semantics, like the CSV feed union).
  */
class ExcelDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-excel"

  private def path(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-excel requires .load(path)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // header-only parse of the FIRST resolved workbook: planning does not
    // materialize sheet rows, and does not open every file
    val first = ExcelDataSource.resolve(path(options)).head
    val header = graft.extract.Excel.readHeader(first)
    StructType(header.map(h => StructField(h, StringType)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val p = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-excel requires .load(path)"))
    // resolve ONCE here: schema and partitions are planned from the same
    // file-list snapshot (the advisor's two-resolution drift note)
    new ExcelTable(p, ExcelDataSource.resolve(p), schema)
  }
}

private[sources] object ExcelDataSource {
  /** Expands a path spec to concrete workbook paths: a directory lists its
    * `*.xlsx` and `*.xls` (sorted — deterministic partition order), a glob matches
    * within its parent directory, anything else is a single file. Empty
    * expansion is an explicit error, not an empty table — a typo'd
    * directory must not read as zero rows.
    */
  def resolve(spec: String): Seq[String] = {
    import java.io.File
    val f = new File(spec)
    val matched: Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File])
          .filter(c => c.isFile &&
            (c.getName.toLowerCase.endsWith(".xlsx") || c.getName.toLowerCase.endsWith(".xls")))
          .map(_.getPath).toSeq.sorted
      else if (spec.exists(c => c == '*' || c == '?')) {
        val parent = Option(f.getParentFile).getOrElse(new File("."))
        val m = java.nio.file.FileSystems.getDefault
          .getPathMatcher("glob:" + f.getName)
        Option(parent.listFiles()).getOrElse(Array.empty[File])
          .filter(c => c.isFile && m.matches(c.toPath.getFileName))
          .map(_.getPath).toSeq.sorted
      } else Seq(spec)
    if (matched.isEmpty)
      throw new IllegalArgumentException(s"graft-excel: no workbooks match '$spec'")
    matched
  }
}

private[sources] class ExcelTable(path: String, files: Seq[String], tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-excel($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ExcelScanBuilder(files, tableSchema)
}

private[sources] class ExcelScanBuilder(files: Seq[String], full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new ExcelScan(files, required)
}

private[sources] class ExcelScan(files: Seq[String], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    files.map(ExcelPartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ExcelReaderFactory(required)
}

private[sources] case class ExcelPartition(path: String) extends InputPartition

private[sources] class ExcelReaderFactory(required: StructType)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val p = partition.asInstanceOf[ExcelPartition].path
      // executor-side parse; one workbook per task
      private val (header, rows) = graft.extract.Excel.readSheet(p)
      // required column → header position (missing header → all-null column)
      private val idx = required.fieldNames.map(f => header.indexOf(f))
      private var i = -1

      override def next(): Boolean = { i += 1; i < rows.length }

      override def get(): InternalRow = {
        val r = rows(i)
        InternalRow.fromSeq(idx.toSeq.map { j =>
          if (j >= 0 && j < r.length) UTF8String.fromString(r(j)) else null
        })
      }

      override def close(): Unit = ()
    }
}
