package graft.lake

import org.apache.parquet.hadoop.ParquetInputFormat

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The native DSv2 read path for GraftTable: a real `Batch` scan whose
  * input partitions are the manifest-pruned parquet files, read by
  * Spark's own vectorized columnar parquet reader
  * (ParquetPartitionReaderFactory) — no Row bridge, whole-stage
  * codegen consumes ColumnarBatches directly. MoR delete files apply
  * as per-file row-index / key-set filters inside the reader, and
  * RENAMED columns resolve per file to whichever physical name the
  * file carries (footer field set, cached per executor — the Iceberg
  * name-mapping shape). Eligibility is decided by
  * GraftTable.planNativeScan; the rare remaining shapes (non-hashable
  * or renamed equality-delete keys, retired-name reuse) fall back to
  * the V1 relation plane, which owns those read-time semantics.
  * In bin mode ([[GraftBinScanProvider]], compaction's input) each bin
  * is one input partition of whole files in bin-pack order, and the
  * reader can also serve each row's file ordinal and row index.
  *
  * Two scale features live here that the V1 bridge structurally
  * cannot express (reference: the Iceberg runtime the guide's
  * spark-defaults.conf loads exposes both):
  *
  *  - '''Runtime filtering''' (SupportsRuntimeFiltering): dynamic
  *    partition pruning hands the scan the join keys observed at
  *    execution time; `filter` re-prunes the file list per value
  *    against partition tuples AND min/max stats, so a fact-dim join
  *    with a selective dim filter reads only the matching fraction of
  *    a 100 TB table — decided at runtime, no literal predicate
  *    needed.
  *  - '''Storage-partitioned joins''' (SupportsReportPartitioning):
  *    identity-partitioned tables report KeyGroupedPartitioning (one
  *    input partition per live partition tuple), so two graft tables
  *    co-partitioned on the join key join with NO shuffle on either
  *    side when `spark.sql.sources.v2.bucketing.enabled` is on.
  */
private[graft] class GraftBatchScan(
    spark: SparkSession,
    tableName: String,
    root: String,
    plan: GraftTable.NativePlan,
    readDataSchema: StructType,
    pushedFilters: Array[Filter]) extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  import GraftBatchScan._

  private val initialEntries: Seq[GraftTable.FileEntry] = plan.entries
  @volatile private var currentEntries: Seq[GraftTable.FileEntry] = plan.entries

  /** Post-runtime-filter live file count (spec observability). */
  private[graft] def liveFileCount: Int = currentEntries.size
  private[graft] def plannedFileCount: Int = initialEntries.size
  private[graft] def keyGrouped: Boolean = spjActive

  private val types: Map[String, DataType] =
    plan.schema.fields.map(f => f.name -> f.dataType).toMap
  private val currentSpec: Seq[GraftTable.PTransform] =
    plan.specs.lift(plan.currentSpecId).getOrElse(Seq.empty)

  /** The PARTITION-VALUE type for a transform usable as an SPJ key:
    * identity carries the column's own type; bucket carries the
    * ordinal (int) — its compatibility proof is GraftBucketFunction,
    * resolved through the table's FunctionCatalog. Time/truncate
    * transforms are not offered (their Iceberg-compatible function
    * semantics are not worth faking for a join key nobody equi-joins
    * on). None = this transform disqualifies SPJ. */
  private def keyType(t: GraftTable.PTransform): Option[DataType] = t match {
    case GraftTable.PIdentity(c) => types.get(c).filter(keyTypeSupported)
    case GraftTable.PBucket(c, _) => types.get(c).collect {
      case IntegerType | LongType | ShortType | ByteType | StringType |
           DateType => IntegerType
    }
    case _ => None
  }

  private val keyTypes: Array[DataType] =
    currentSpec.flatMap(keyType).toArray

  /** Storage-partitioned-join eligibility: opted in by Spark's SPJ
    * conf, every transform of the current spec SPJ-keyable (identity
    * or bucket), every live file stamped with the current spec AND
    * carrying a tuple value per key, key values round-trippable from
    * their rendered text. */
  private val spjActive: Boolean =
    plan.bins.isEmpty &&
    spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean &&
      currentSpec.nonEmpty && keyTypes.length == currentSpec.length &&
      initialEntries.nonEmpty &&
      initialEntries.forall(f => f.specIdOr0 == plan.currentSpecId &&
        currentSpec.forall(t => f.partitionValues.contains(t.label)))

  private def keyOf(f: GraftTable.FileEntry): Seq[String] =
    currentSpec.map { t =>
      val v = f.partitionValues(t.label)
      if (v == GraftTable.nullPartitionSentinel) null else v
    }

  /** The fixed group-key universe: runtime filters may empty a group's
    * file list but never drop the group — Spark requires the reported
    * KeyGroupedPartitioning to survive runtime filtering unchanged. */
  private lazy val groupKeys: Seq[Seq[String]] =
    initialEntries.map(keyOf).distinct
      .sortBy(_.map(s => if (s == null) "\u0000" else s).mkString("\u0001"))

  override def readSchema(): StructType = readDataSchema

  override def toBatch: Batch = this

  override def description(): String = {
    val preds = if (pushedFilters.isEmpty) "" else
      s", pushed: [${pushedFilters.mkString(", ")}]"
    val mor = if (plan.deletes.isEmpty) "" else s", deletes=${plan.deletes.size}"
    val bins = if (plan.bins.isEmpty) "" else s", bins=${plan.bins.size}"
    s"GraftBatchScan $tableName files=${currentEntries.size}/${initialEntries.size}$bins$mor$preds"
  }

  /** Live MoR delete files this scan serves natively (spec observability). */
  private[graft] def morDeleteCount: Int = plan.deletes.size

  // ── partition planning ──────────────────────────────────────────────

  /** Per-file scan path: a RANGED-read mount resolves non-local data
    * files to `grafts3://` URIs (read in place — footer + projected
    * column chunks over ranged GETs, nothing cached); everything else
    * reads the local path. Resolved once per planning pass, AFTER
    * runtime filtering, so only surviving files resolve. */
  @volatile private var remotePaths: Map[String, String] = Map.empty

  /** The table root's storage binding, resolved once per scan: it
    * resolves in-place reads, hydrates, and supplies the client conf
    * for exactly the URIs it mints. */
  private lazy val nroot = GraftTable.rootPath(root)
  private lazy val store = LakeStore.at(nroot)

  private def pathFor(f: GraftTable.FileEntry): SparkPath =
    SparkPath.fromPathString(remotePaths.getOrElse(f.path, s"$root/${f.path}"))

  private def wholeFile(f: GraftTable.FileEntry): PartitionedFile =
    PartitionedFile(InternalRow.empty, pathFor(f),
      0L, f.sizeBytes, Array.empty, 0L, f.sizeBytes)

  private def splitFile(f: GraftTable.FileEntry, maxSplit: Long): Seq[PartitionedFile] =
    if (f.sizeBytes <= maxSplit) Seq(wholeFile(f))
    else {
      val sp = pathFor(f)
      (0L until f.sizeBytes by maxSplit).map(start =>
        PartitionedFile(InternalRow.empty, sp, start,
          math.min(maxSplit, f.sizeBytes - start), Array.empty, 0L, f.sizeBytes))
    }

  /** The last planning pass and the file list it planned. Spark asks
    * for the partitions more than once per query (each physical-plan
    * copy); the list only changes when a runtime filter replaces
    * `currentEntries`, so an identity match replays the pass —
    * hydration and cache-budget enforcement included — instead of
    * redoing it. */
  private var planned: (Seq[GraftTable.FileEntry], Array[InputPartition]) = _

  override def planInputPartitions(): Array[InputPartition] = synchronized {
    val entries = currentEntries
    if (planned == null || !(planned._1 eq entries))
      planned = (entries, planPartitions(entries))
    planned._2
  }

  private def planPartitions(entries: Seq[GraftTable.FileEntry]): Array[InputPartition] = {
    // on-demand hydration fires with the POST-runtime-filter file list:
    // a DPP-pruned native scan on a metadata-only fleet follower pulls
    // exactly the surviving files (plus the MoR delete files the
    // readers apply), never the table. Under a RANGED-read mount, data
    // files resolve to in-place grafts3:// URIs instead and are
    // EXCLUDED from hydration — the scan transfers column bytes, not
    // file bytes; MoR delete files (small, read whole, shared across
    // readers) always hydrate.
    remotePaths = store.remoteReads(nroot, entries.map(_.path))
    val local = entries.map(_.path).filterNot(remotePaths.contains) ++
      plan.deletes.map(_.path)
    if (local.nonEmpty) store.hydrate(nroot, local)
    if (plan.bins.nonEmpty)
      // bin mode: one partition per bin, whole files in bin order —
      // never split, never merged (runtime filters never reach it)
      plan.bins.zipWithIndex.map { case (b, i) =>
        FilePartition(i, b.map(wholeFile).toArray)
      }.toArray
    else if (spjActive) {
      val byKey = entries.groupBy(keyOf)
      groupKeys.zipWithIndex.map { case (k, i) =>
        GraftKeyedPartition(i,
          byKey.getOrElse(k, Seq.empty).map(wholeFile).toArray,
          k.toArray, keyTypes)
      }.toArray
    } else {
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val maxSplit = FilePartition.maxSplitBytes(spark,
        entries.map(_.sizeBytes + openCost).sum)
      val files = entries.flatMap(splitFile(_, maxSplit))
        .sortBy(-_.length)
      FilePartition.getFilePartitions(spark, files, maxSplit)
        .toArray[InputPartition]
    }
  }

  override def outputPartitioning(): Partitioning =
    if (spjActive)
      new KeyGroupedPartitioning(
        currentSpec.map {
          case GraftTable.PIdentity(c) => Expressions.identity(c)
          case GraftTable.PBucket(c, n) => Expressions.bucket(n, c)
          case t => throw new IllegalStateException(s"keyType gated $t out")
        }.toArray,
        groupKeys.size)
    else new UnknownPartitioning(0)

  // ── runtime (DPP) filtering ─────────────────────────────────────────

  /** Only columns this scan OUTPUTS: Spark resolves these against the
    * scan relation's (column-pruned) output and THROWS on a miss — and
    * a runtime filter always arrives on a join key, which is by
    * definition projected. */
  override def filterAttributes(): Array[NamedReference] =
    readDataSchema.fields.map(f => Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit = {
    var e = currentEntries
    filters.foreach {
      case In(attr, values) =>
        e = GraftTable.runtimePruneEntries(plan.schema, plan.specs, e, attr, values.toSeq)
      case EqualTo(attr, v) =>
        e = GraftTable.runtimePruneEntries(plan.schema, plan.specs, e, attr, Seq(v))
      case _ => ()   // unconvertible runtime filter: no prune, never an error
    }
    currentEntries = e
  }

  // ── statistics ──────────────────────────────────────────────────────

  /** Post-pruning manifest-exact size, consumed ONLY by
    * GraftBroadcastHints (which refuses to carry the size across
    * row-multiplying nodes). Deliberately NOT the DSv2
    * SupportsReportStatistics interface: feeding honest scan stats
    * straight into logical stats propagation lets Spark broadcast an
    * exploded/generated side sized from the tiny scan under it — the
    * executor-OOM shape the hint rule exists to prevent. */
  private[lake] def estimatedSizeBytes: Long =
    math.max(1L, currentEntries.map(_.sizeBytes).sum)

  // ── reader factory ──────────────────────────────────────────────────

  /** The in-place scan scheme on a reader-bound hadoop conf: the
    * fs.grafts3.impl mapping (so Path.getFileSystem can instantiate
    * GraftRangedFs for grafts3:// URIs — a no-op for local paths) PLUS
    * the client conf of this scan's store so executor JVMs outside the
    * driver-local registry rebuild the client (the s3a shape). One
    * helper, both factory sites: a read path that ships the scheme
    * without the client conf fails on real clusters only. */
  private def stampRangedFsConf(hc: org.apache.hadoop.conf.Configuration): Unit =
    (GraftRangedFs.confKey +: store.remoteReadConf(nroot)).foreach { case (k, v) => hc.set(k, v) }

  /** One vectorized parquet reader factory for (file schema, requested
    * schema, filters) — the SAME reader stack the V1 plane's
    * spark.read.parquet uses, minus the Row bridge. The requested
    * schema rides the broadcast hadoop conf exactly as Spark's own
    * ParquetScan.createReaderFactory sets it up, so per-file clipping,
    * missing-column null-fill, widened types, pushdown, and columnar
    * reads all behave identically. Each call copies the session hadoop
    * conf and broadcasts it, which is why the scan builds its factories
    * once ([[readerFactory]]). */
  private def mkParquetFactory(dataSchema: StructType, requested: StructType,
      filters: Array[Filter]): ParquetPartitionReaderFactory = {
    factoryBuilds += 1
    val sqlConf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    stampRangedFsConf(hadoopConf)
    val requestedJson = requested.json
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requestedJson)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requestedJson)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(requested, hadoopConf)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sqlConf.parquetFieldIdReadEnabled)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    val broadcasted = spark.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf))
    ParquetPartitionReaderFactory(sqlConf, broadcasted,
      dataSchema, requested, StructType(Nil), filters, None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }

  /** `_row_id` (row lineage) requested through the scan's output. */
  private val rowIdRequested: Boolean =
    readDataSchema.fieldNames.contains("_row_id")

  /** The bin scan's row positions (`_gf_ord`, `_gf_pos`) requested
    * through the scan's output. */
  private val positionsRequested: Boolean =
    readDataSchema.fieldNames.exists(GraftBinScanProvider.positionCols.contains)

  /** The parquet-facing projection: everything but the computed
    * `_row_id` and row-position columns. */
  private val dataCols: StructType =
    StructType(readDataSchema.fields.filterNot(f =>
      f.name == "_row_id" || GraftBinScanProvider.positionCols.contains(f.name)))

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    GraftMorMetrics.supported ++ GraftRangedMetrics.supported

  /** Rename alternatives that matter to THIS scan's output. */
  private val outRenames: Seq[(String, Seq[String])] =
    plan.renames.filter { case (n, _) => dataCols.fieldNames.contains(n) }

  @volatile private var factoryBuilds = 0

  /** [[mkParquetFactory]] calls so far (spec observability). */
  private[graft] def parquetFactoryBuilds: Int = factoryBuilds

  /** Built on first request and shared by every physical-plan copy:
    * nothing it captures changes over the scan's life (runtime
    * filtering narrows the file list, not the readers). */
  private lazy val readerFactory: GraftMeteredFactory =
    GraftMeteredFactory(
      if (plan.deletes.isEmpty && !rowIdRequested && !positionsRequested &&
          outRenames.isEmpty)
        GraftReaderFactory(mkParquetFactory(plan.schema, readDataSchema, pushedFilters))
      else morReaderFactory())

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Whether the MoR reader carries a deletion-vector factory (spec
    * observability: built only when the snapshot has DV files). */
  private[graft] def dvFactoryBuilt: Boolean = readerFactory.delegate match {
    case m: GraftMorReaderFactory => m.dvFactory != null
    case _ => false
  }

  /** The wrapping read path — MoR snapshots, `_row_id` lineage and/or
    * the bin scan's row positions:
    * files re-read through an EXTENDED schema (projection-pruned
    * eq-delete key columns added back, the materialized `_gf_row_id`
    * physical column when lineage is requested, plus Spark's generated
    * `_tmp_metadata_row_index` column); rows filter against deletion
    * vectors / key sets and `_row_id` computes per file as
    * firstRowId + row_index (or the materialized column, or NULL for
    * pre-lineage files). Clean files with no lineage request keep the
    * plain factory. See GraftMorRead.scala. */
  private def morReaderFactory(): GraftMorReaderFactory = {
    val posDeletes = plan.deletes.filter(_.content.contains(1))
      .map(f => (s"$root/${f.path}", f.sizeBytes))
    val dvDeletes = plan.deletes.filter(_.content.contains(3))
      .map(f => (s"$root/${f.path}", f.sizeBytes))
    // one group per (snapshot, key columns): same sequence bound, same
    // keys — shard files of one keyed delete share one key set
    val eqGroupsRaw = plan.deletes.filter(_.content.contains(2))
      .groupBy(f => (f.snapshotOfName, f.eqCols.getOrElse(Seq.empty)))
      .toSeq.sortBy { case ((s, cs), _) => (s, cs.mkString(",")) }
    val eqColsNeeded = eqGroupsRaw.flatMap(_._1._2).distinct
      .filterNot(dataCols.fieldNames.contains)
    val riName = org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
    // the row-index field must be NULLABLE: the vectorized reader
    // null-fills nullable missing columns (a required miss throws) and
    // its RowIndexGenerator then overwrites the vector with real
    // indexes, matched by name
    // equality-delete key columns that were RENAMED need the same
    // per-file resolution as renamed output columns: data files
    // written before the rename carry the old physical name, and the
    // key readback must find the values there or the delete silently
    // stops applying to old files (the delete FILES always carry
    // current names — a rename under live eq-deletes is refused)
    val eqKeyRenames: Seq[(String, Seq[String])] =
      eqGroupsRaw.flatMap(_._1._2).distinct
        .flatMap(c => plan.renames.find(_._1 == c))
        .filterNot(r => outRenames.exists(_._1 == r._1))
    // historical-name twins of renamed output + eq-key columns
    // (nullable, same type): each file physically carries exactly ONE
    // of a column's names; the reader resolves which per file and
    // serves that vector
    val histTwins = (outRenames ++ eqKeyRenames).flatMap { case (cur, hists) =>
      val dt = plan.schema.fields.find(_.name == cur).get.dataType
      hists.map(h => StructField(h, dt, nullable = true))
    }
    val extSchema = StructType(dataCols.fields ++
      eqColsNeeded.map(c =>
        plan.schema.fields.find(_.name == c).get.copy(nullable = true)) ++
      histTwins ++
      (if (rowIdRequested) Seq(GraftTable.rowIdPhys) else Seq.empty) :+
      StructField(riName, LongType, nullable = true))
    val ordOf = extSchema.fieldNames.zipWithIndex.toMap
    val eqGroups = eqGroupsRaw.map { case ((snapId, cols), fs) =>
      val fields = cols.map(c => plan.schema.fields.find(_.name == c).get)
      val anyAlt = cols.exists(c => plan.renames.exists(_._1 == c))
      val altNames: Array[Array[String]] =
        if (!anyAlt) null
        else cols.map(c => (c +: plan.renames.find(_._1 == c)
          .map(_._2).getOrElse(Seq.empty)).toArray).toArray
      GraftEqGroup(snapId, cols,
        fs.map(f => (s"$root/${f.path}", f.sizeBytes)),
        cols.map(ordOf).toArray, fields.map(_.dataType).toArray,
        mkParquetFactory(StructType(fields), StructType(fields), Array.empty),
        altNames = altNames,
        altOrds = if (anyAlt) altNames.map(_.map(ordOf)) else null)
    }
    // output ordinal -> extended ordinal; -1 = the computed _row_id,
    // -2 = the file's ordinal in its input partition; the row index is
    // the extended schema's last column
    val dataOrd = dataCols.fieldNames.zipWithIndex.toMap
    val outCols = readDataSchema.fieldNames.map {
      case "_row_id" => -1
      case GraftBinScanProvider.fileOrdCol => -2
      case GraftBinScanProvider.rowPosCol => extSchema.length - 1
      case n => dataOrd(n)
    }
    // per renamed output column: candidate names (current first, then
    // historical newest-first) and their extended ordinals
    val renames = outRenames.map { case (cur, hists) =>
      GraftRenameAlt(readDataSchema.fieldNames.indexOf(cur),
        (cur +: hists).toArray, (cur +: hists).map(ordOf).toArray)
    }
    val bcConf =
      if (renames.isEmpty && eqGroups.forall(_.altNames == null)) null
      else {
        val hc = spark.sessionState.newHadoopConfWithOptions(Map.empty)
        stampRangedFsConf(hc)
        spark.sparkContext.broadcast(new SerializableConfiguration(hc))
      }
    GraftMorReaderFactory(
      plain = mkParquetFactory(plan.schema, dataCols, pushedFilters),
      extended = mkParquetFactory(plan.schema, extSchema, pushedFilters),
      outCols = outCols,
      riOrd = extSchema.length - 1,
      gfOrd = if (rowIdRequested) ordOf(GraftTable.rowIdPhys.name) else -1,
      lineage = if (rowIdRequested)
        Some(plan.entries.map(f =>
          f.path.split('/').last -> f.firstRowId).toMap)
      else None,
      posDeletes = posDeletes,
      posFactory =
        if (posDeletes.isEmpty) null
        else mkParquetFactory(GraftTable.posDeleteSchema, GraftTable.posDeleteSchema,
          Array.empty),
      eqGroups = eqGroups,
      dvDeletes = dvDeletes,
      dvFactory =
        if (dvDeletes.isEmpty) null
        else mkParquetFactory(GraftDv.schema, GraftDv.schema, Array.empty),
      renames = renames,
      renameConf = bcConf)
  }
}

private[lake] object GraftBatchScan {


  private[lake] def keyTypeSupported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | StringType |
         DateType | TimestampType | TimestampNTZType | BooleanType |
         DoubleType | FloatType => true
    case _ => false
  }

  /** Rendered partition-tuple text → the Catalyst value of the SAME
    * instant/number (the inverse of transformCol's identity
    * rendering: timestamps render as epoch micros, dates ISO,
    * numbers decimal text, strings raw). */
  private[lake] def keyValue(raw: String, dt: DataType): Any =
    if (raw == null) null
    else dt match {
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case ShortType => raw.toShort
      case ByteType => raw.toByte
      case StringType => UTF8String.fromString(raw)
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case TimestampType | TimestampNTZType => raw.toLong
      case BooleanType => raw.toBoolean
      case DoubleType => raw.toDouble
      case FloatType => raw.toFloat
      case other => throw new IllegalStateException(
        s"unsupported SPJ key type $other (keyTypeSupported should have gated)")
    }
}

/** One storage partition (= one partition tuple's files) for
  * key-grouped (storage-partitioned-join) scans. The raw tuple text +
  * types travel instead of an InternalRow: both are plainly
  * serializable, and partitionKey() is only consulted on the driver
  * during partitioning checks. */
private[lake] case class GraftKeyedPartition(index: Int,
    files: Array[PartitionedFile], rawKey: Array[String],
    keyTypes: Array[DataType]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(rawKey.zip(keyTypes).map {
      case (raw, dt) => GraftBatchScan.keyValue(raw, dt)
    }.toArray[Any])
}

/** Meters the in-place transfer of every reader the delegate builds:
  * a fresh per-task sink is installed on the TASK thread before the
  * delegate reader exists, so each GraftRangedInputStream the reader
  * opens (parquet opens on the task thread) captures exactly this
  * task's sink — vectored pool fetches included — and the reader
  * reports the totals as DSv2 task metrics alongside whatever the
  * delegate already reports (the MoR counters). Purely local scans
  * report zeros. */
private[lake] case class GraftMeteredFactory(delegate: PartitionReaderFactory)
    extends PartitionReaderFactory {
  /** Install a sink, build the delegate reader under it, and UNINSTALL
    * on a build failure — a stale sink left on the pooled task thread
    * would adopt a later non-metered stream's bytes. */
  private def metered[T](build: => PartitionReader[T]): PartitionReader[T] = {
    val sink = new GraftRangedMetricsSink
    GraftRangedFs.taskSink.set(sink)
    val delegate =
      try build
      catch { case t: Throwable =>
        if (GraftRangedFs.taskSink.get() eq sink) GraftRangedFs.taskSink.remove()
        throw t
      }
    new GraftMeteredReader(delegate, sink)
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    metered(delegate.createReader(p))
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    metered(delegate.createColumnarReader(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(p)
}

private[lake] final class GraftMeteredReader[T](delegate: PartitionReader[T],
    sink: GraftRangedMetricsSink) extends PartitionReader[T] {
  override def next(): Boolean = delegate.next()
  override def get(): T = delegate.get()
  override def close(): Unit =
    // finally: a throwing delegate close must still clear the install;
    // and clear only our OWN — a second reader on this pooled task
    // thread may already have replaced it
    try delegate.close()
    finally {
      if (GraftRangedFs.taskSink.get() eq sink) GraftRangedFs.taskSink.remove()
    }
  override def currentMetricsValues(): Array[
      org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.currentMetricsValues() ++ Array(
      GraftTaskMetric(GraftRangedMetrics.bytesServed, sink.bytes.get),
      GraftTaskMetric(GraftRangedMetrics.gets, sink.gets.get),
      GraftTaskMetric(GraftRangedMetrics.vectoredRanges, sink.vectored.get))
}

/** Delegates to Spark's parquet reader factory, unwrapping
  * GraftKeyedPartition into the FilePartition shape it expects. */
private[lake] case class GraftReaderFactory(delegate: ParquetPartitionReaderFactory)
    extends PartitionReaderFactory {
  private def asFilePartition(p: InputPartition): FilePartition = p match {
    case f: FilePartition => f
    case k: GraftKeyedPartition => FilePartition(k.index, k.files)
    case other => throw new IllegalStateException(s"unexpected partition $other")
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    delegate.createReader(asFilePartition(p))
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    delegate.createColumnarReader(asFilePartition(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(asFilePartition(p))
}
