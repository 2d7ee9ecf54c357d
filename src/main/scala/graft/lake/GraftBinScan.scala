package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Bin-pack compaction's input as a public DSv2 source: the native
  * scan ([[GraftBatchScan]]) in bin mode, where each bin is ONE input
  * partition holding the bin's whole files in bin-pack order.
  *
  * {{{
  *   spark.read.format(classOf[GraftBinScanProvider].getName)
  *     .options(GraftBinScanProvider.options(root, snapshotId, bins))
  *     .load()
  * }}}
  *
  * Deletes apply per file inside the reader and `_row_id` computes per
  * file, so a task reads exactly one bin and can write it as the bin's
  * file: no listing job, no delete joins, no shuffle. Besides the
  * table's columns the source offers `_row_id`, `_gf_ord` (the row's
  * file's place in its bin) and `_gf_pos` (the row's index in that
  * file); a read pays only for the ones it selects. The snapshot must
  * be one the native reader serves (`GraftTable.binScanPlan`). This is
  * the public route into the native reader, with no `private[sql]`
  * bridge. */
class GraftBinScanProvider extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    table(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    table(new CaseInsensitiveStringMap(properties))

  private def table(options: CaseInsensitiveStringMap): GraftBinTable = {
    def opt(k: String): String = Option(options.get(k)).getOrElse(
      throw new IllegalArgumentException(s"the graft bin scan needs .option(\"$k\", ...)"))
    val root = opt("root")
    val spark = SparkSession.active
    new GraftBinTable(spark, root,
      GraftTable.binScanPlan(spark, root, opt("snapshot").toLong,
        GraftBinScanProvider.decodeBins(opt("bins"))))
  }
}

object GraftBinScanProvider {
  val fileOrdCol = "_gf_ord"
  val rowPosCol = "_gf_pos"
  /** A row's source (file, position) order within its bin. */
  val positionCols: Seq[String] = Seq(fileOrdCol, rowPosCol)

  private implicit val formats: Formats = DefaultFormats

  /** The reader options selecting `bins` (table-relative data file
    * paths, each bin in bin-pack order) of snapshot `snapshotId`. */
  def options(root: String, snapshotId: Long, bins: Seq[Seq[String]]): Map[String, String] =
    Map("root" -> root, "snapshot" -> snapshotId.toString,
      "bins" -> JsonMethods.compact(JsonMethods.render(
        JArray(bins.map(b => JArray(b.map(JString(_)).toList)).toList))))

  private[lake] def decodeBins(json: String): Seq[Seq[String]] =
    JsonMethods.parse(json).extract[Seq[Seq[String]]]
}

private[lake] class GraftBinTable(spark: SparkSession, root: String,
    plan: GraftTable.NativePlan) extends Table with SupportsRead {

  override def name(): String = s"graft bins of $root"

  private val binColumns = StructType(plan.schema.fields ++ Seq(
    StructField("_row_id", LongType, nullable = true),
    StructField(GraftBinScanProvider.fileOrdCol, IntegerType, nullable = false),
    StructField(GraftBinScanProvider.rowPosCol, LongType, nullable = false)))

  override def schema(): StructType = binColumns

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = binColumns
      // keep the table's own fields: their metadata carries column
      // defaults the parquet reader fills into files that predate them
      override def pruneColumns(req: StructType): Unit =
        required = StructType(req.fieldNames.map(binColumns(_)))
      override def build(): Scan =
        new GraftBatchScan(spark, name(), root, plan, required, Array.empty)
    }
}
