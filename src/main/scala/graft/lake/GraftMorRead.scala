package graft.lake

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

/** The native scan's WRAPPING read path — merge-on-read deletes and/or
  * the `_row_id` lineage column (reference: the Iceberg runtime the
  * guide's spark-defaults.conf loads serves both the same way):
  * instead of falling back to the V1 row bridge, per-file work applies
  * around Spark's own vectorized parquet reader.
  *
  *  - '''Position deletes''' become per-data-file deletion vectors: the
  *    delete parquet parses ONCE PER EXECUTOR (soft-referenced cache,
  *    so memory pressure can evict and re-parse) into
  *    basename → sorted row ordinals; each task merge-walks its file's
  *    vector against the ascending row indexes the reader emits via
  *    the `_tmp_metadata_row_index` generated column — O(batch) per
  *    batch, no join, no shuffle (the Iceberg-v3 deletion-vector
  *    shape).
  *  - '''Equality deletes''' load their (tiny, by design — that is the
  *    point of a keyed delete) key files into per-executor hash sets
  *    and drop matching rows of data files whose snapshot-id file-name
  *    prefix is STRICTLY BELOW the delete's (the Iceberg sequence
  *    rule — strict so a one-commit upsert's own data files escape
  *    their companion delete) —
  *    the same in-memory key-set application Iceberg's own readers
  *    use. Key columns the projection pruned away are read back just
  *    for the dirty files and stripped before the batch leaves the
  *    reader.
  *  - '''Row lineage''' (`_row_id`): per data file, NULL for
  *    pre-lineage files, the materialized `_gf_row_id` physical column
  *    for rewrite outputs, firstRowId + row_index otherwise — all
  *    zero-copy vector views over the reader's own columns, no
  *    per-row driver arithmetic.
  *
  * Rows-only filtering preserves every upstream property: pushed
  * parquet predicates stay pushed (deletes only remove rows), pruned
  * files stay pruned, storage-partitioned grouping survives, and live
  * batches leave as zero-copy views (an index indirection over the
  * reader's own vectors — Iceberg's ColumnVectorWithFilter shape), so
  * a mostly-clean table pays near-zero tax. `rewrite_data_files` /
  * `rewrite_position_deletes` remain the way to retire the MoR tax
  * entirely. */
private[lake] case class GraftEqGroup(snapId: Long, cols: Seq[String],
    files: Seq[(String, Long)], keyOrds: Array[Int], keyTypes: Array[DataType],
    factory: ParquetPartitionReaderFactory,
    // per key column: candidate physical names (current first, then
    // historical newest-first) with their extended-schema ordinals —
    // non-null when a key column was RENAMED, so data files written
    // before the rename carry the old physical name and the key
    // readback must pick the right vector per file (the delete files
    // themselves always carry current names: renaming a column with
    // live eq-deletes on it is refused at DDL time)
    altNames: Array[Array[String]] = null,
    altOrds: Array[Array[Int]] = null)

/** Per-file `_row_id` mode. */
private[lake] sealed trait GraftRowIdMode
private[lake] case object GraftNoLineage extends GraftRowIdMode
private[lake] case object GraftNullId extends GraftRowIdMode
private[lake] case object GraftMaterializedId extends GraftRowIdMode
private[lake] case class GraftBaseId(base: Long) extends GraftRowIdMode

/** One renamed output column's physical-name alternatives: candidate
  * names (current first, then historical newest-first) with their
  * extended-schema ordinals. Each file physically carries exactly ONE
  * of the names; the reader picks that one per file. */
private[lake] case class GraftRenameAlt(outOrd: Int, names: Array[String],
    extOrds: Array[Int])

/** One data file's read work: the merged deletion vector (sorted row
  * ordinals), the equality groups whose sequence bound admits it, its
  * lineage mode, and — for files written under pre-rename names — the
  * per-file output→extended column remap (null = factory default). */
private[lake] case class GraftMorWork(dv: Array[Long],
    eqs: Seq[(Array[Int], Array[DataType], java.util.HashSet[AnyRef])],
    rowId: GraftRowIdMode, cols: Array[Int] = null) {
  def hasDeletes: Boolean = dv.nonEmpty || eqs.nonEmpty
  def needsExtended: Boolean = hasDeletes || rowId != GraftNoLineage ||
    cols != null
}

/** DSv2 custom metrics: per-task delete-filter observability for the
  * native MoR read, surfaced in the Spark UI / SQLMetrics next to the
  * built-in scan numbers. Sum-aggregated across tasks. One CONCRETE
  * 0-arg class per metric: SQLAppStatusListener re-instantiates the
  * metric BY CLASS NAME on the driver to aggregate task values. */
class GraftMorDeletedRowsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftMorMetrics.deletedRows
  override def description(): String =
    "rows filtered by MoR deletes (deletion vectors + equality keys)"
}

class GraftMorDirtyFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftMorMetrics.dirtyFiles
  override def description(): String = "data files read with delete work attached"
}

private[lake] case class GraftTaskMetric(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

private[lake] object GraftMorMetrics {
  val deletedRows = "graftMorDeletedRows"
  val dirtyFiles = "graftMorFilesWithDeletes"
  def supported: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftMorDeletedRowsMetric, new GraftMorDirtyFilesMetric)
}

private[lake] case class GraftMorReaderFactory(
    plain: ParquetPartitionReaderFactory,
    extended: ParquetPartitionReaderFactory,
    outCols: Array[Int],                 // output ordinal -> extended ordinal; -1 = _row_id,
                                         // -2 = file ordinal in the partition
    riOrd: Int,
    gfOrd: Int,                          // materialized _gf_row_id ordinal, or -1
    lineage: Option[Map[String, Option[Long]]],  // fileName -> firstRowId
    posDeletes: Seq[(String, Long)],
    posFactory: ParquetPartitionReaderFactory,  // null when posDeletes is empty
    eqGroups: Seq[GraftEqGroup],
    dvDeletes: Seq[(String, Long)] = Seq.empty,  // content=3 containers
    dvFactory: ParquetPartitionReaderFactory = null,  // null when dvDeletes is empty
    renames: Seq[GraftRenameAlt] = Seq.empty,
    renameConf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration] = null)
  extends PartitionReaderFactory {

  private def files(p: InputPartition): Array[PartitionedFile] = p match {
    case f: FilePartition => f.files
    case k: GraftKeyedPartition => k.files
    case other => throw new IllegalStateException(s"unexpected partition $other")
  }

  private def one(f: PartitionedFile): FilePartition = FilePartition(0, Array(f))

  /** The output carries row positions (file ordinal, row index), so
    * every file reads through the extended schema, clean ones too. */
  private val positions: Boolean = outCols.exists(o => o == -2 || o == riOrd)

  private def workFor(f: PartitionedFile): GraftMorWork = {
    val name = f.toPath.getName
    val snap = name.takeWhile(_.isDigit).toLong
    val fromPos =
      if (posDeletes.isEmpty) Array.emptyLongArray
      else GraftMorCache.deletionVector(name, posDeletes, posFactory)
    val fromDv =
      if (dvDeletes.isEmpty) Array.emptyLongArray
      else GraftMorCache.dvVector(name, dvDeletes, dvFactory)
    val dv =
      if (fromDv.isEmpty) fromPos
      else if (fromPos.isEmpty) fromDv
      else { // a post-conversion delete stacks on the container: merge
        val a = Array.concat(fromPos, fromDv); java.util.Arrays.sort(a); a
      }
    val admitted = eqGroups.filter(_.snapId > snap)
    // renamed key columns: resolve which physical name THIS file
    // carries ONCE (same footer-fieldset soft cache the output remap
    // uses) and remap each group's key ordinals; a file with neither
    // name (pre-ADD-COLUMN) keeps the current ordinal — the reader
    // null-fills it, which IS that file's value for the column, so
    // null-key semantics stay exact
    val fileFields =
      if (admitted.exists(_.altOrds != null))
        GraftMorCache.fileFields(f.toPath.toString, renameConf.value.value)
      else null
    val eqs = admitted
      .map { g =>
        val ords =
          if (g.altOrds == null) g.keyOrds
          else Array.tabulate(g.keyOrds.length) { j =>
            val k = g.altNames(j).indexWhere(fileFields.contains)
            if (k >= 0) g.altOrds(j)(k) else g.keyOrds(j)
          }
        (ords, g.keyTypes, GraftMorCache.keySet(g))
      }
      .filter(!_._3.isEmpty)
    val mode = lineage match {
      case None => GraftNoLineage
      case Some(m) => m.getOrElse(name, None) match {
        case None => GraftNullId
        case Some(-1L) => GraftMaterializedId
        case Some(base) => GraftBaseId(base)
      }
    }
    // renamed columns: resolve which physical name THIS file carries
    // (footer field set, parsed once per executor) and remap the
    // output ordinal to that name's vector; a file with neither name
    // (pre-ADD-COLUMN) keeps the current name — the reader null-fills
    val cols: Array[Int] =
      if (renames.isEmpty) null
      else {
        val fields = GraftMorCache.fileFields(
          f.toPath.toString, renameConf.value.value)
        var remapped: Array[Int] = null
        renames.foreach { a =>
          val k = a.names.indexWhere(fields.contains)
          if (k > 0) {
            if (remapped == null) remapped = outCols.clone()
            remapped(a.outOrd) = a.extOrds(k)
          }
        }
        remapped
      }
    GraftMorWork(dv, eqs, mode, cols)
  }

  /** A clean file with no lineage request reads through the plain
    * factory — identical cost to a non-wrapped scan. */
  private[lake] def columnarFor(f: PartitionedFile)
      : (PartitionReader[ColumnarBatch], GraftMorWork) = {
    val w = workFor(f)
    if (positions || w.needsExtended) (extended.createColumnarReader(one(f)), w)
    else (plain.createColumnarReader(one(f)), null)
  }

  private[lake] def rowFor(f: PartitionedFile)
      : (PartitionReader[InternalRow], GraftMorWork) = {
    val w = workFor(f)
    if (positions || w.needsExtended) (extended.createReader(one(f)), w)
    else (plain.createReader(one(f)), null)
  }

  /** Row r of batch b matches some admitted equality-delete key. */
  private[lake] def eqDeadCol(b: ColumnarBatch, r: Int, w: GraftMorWork): Boolean = {
    var g = 0
    while (g < w.eqs.length) {
      val (ords, types, set) = w.eqs(g)
      if (set.contains(GraftMorCache.probeKey(
        (ord, dt) => GraftMorCache.vecValue(b.column(ord), r, dt), ords, types)))
        return true
      g += 1
    }
    false
  }

  private[lake] def eqDeadRow(row: InternalRow, w: GraftMorWork): Boolean = {
    var g = 0
    while (g < w.eqs.length) {
      val (ords, types, set) = w.eqs(g)
      if (set.contains(GraftMorCache.probeKey(
        (ord, dt) => if (row.isNullAt(ord)) null
        else GraftMorCache.norm(row.get(ord, dt)), ords, types)))
        return true
      g += 1
    }
    false
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    extended.supportColumnarReads(FilePartition(0, files(p)))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftMorRowReader(files(p), this)

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new GraftMorColumnarReader(files(p), this)
}

/** Per-executor parse-once caches for delete-file content. Soft
  * references let the JVM reclaim a cold table's delete sets under
  * memory pressure; a task that misses just re-parses (the files are
  * immutable, so staleness cannot occur). */
private[lake] object GraftMorCache {

  private val posCache =
    new ConcurrentHashMap[String, SoftReference[Map[String, Array[Long]]]]()
  private val eqCache =
    new ConcurrentHashMap[String, SoftReference[java.util.HashSet[AnyRef]]]()

  private def pf(path: String, size: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, size, Array.empty, 0L, size)

  /** One position-delete parquet as basename → sorted ordinals. */
  private def parsedPositions(path: String, size: Long,
      factory: ParquetPartitionReaderFactory): Map[String, Array[Long]] = {
    val ref = posCache.get(path)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) return hit
    val acc = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    val r = factory.createReader(FilePartition(0, Array(pf(path, size))))
    try while (r.next()) {
      val row = r.get()
      val full = row.getUTF8String(0).toString
      val name = full.substring(full.lastIndexOf('/') + 1)
      acc.getOrElseUpdate(name,
        new scala.collection.mutable.ArrayBuffer[Long]) += row.getLong(1)
    } finally r.close()
    val m = acc.view.mapValues { b =>
      val a = b.toArray; java.util.Arrays.sort(a); a
    }.toMap
    posCache.put(path, new SoftReference(m))
    m
  }

  private val dvCache =
    new ConcurrentHashMap[String, SoftReference[Map[String, Array[Long]]]]()

  /** Test hook: drop every parse-once cache so an A/B can measure the
    * COLD delete-application cost (the steady state is cache-equal by
    * design). */
  private[lake] def clearForTest(): Unit = {
    posCache.clear(); eqCache.clear(); dvCache.clear(); fieldsCache.clear()
  }

  private val fieldsCache =
    new ConcurrentHashMap[String, SoftReference[java.util.HashSet[String]]]()

  /** The TOP-LEVEL field names a parquet file physically carries —
    * one footer read per file per executor (soft-cached; files are
    * immutable so staleness cannot occur). This is how renamed
    * columns resolve: exactly one of (current, historical…) names is
    * present in any given file. */
  def fileFields(path: String,
      conf: org.apache.hadoop.conf.Configuration): java.util.HashSet[String] = {
    val ref = fieldsCache.get(path)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) return hit
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val s = new java.util.HashSet[String]()
    try {
      val fields = reader.getFileMetaData.getSchema.getFields
      var i = 0
      while (i < fields.size()) { s.add(fields.get(i).getName); i += 1 }
    } finally reader.close()
    fieldsCache.put(path, new SoftReference(s))
    s
  }

  /** One DV container (parquet of (name, serialized roaring bitmap))
    * as basename -> sorted ordinals — the parse-once sibling of
    * parsedPositions, decoding each bitmap exactly once per executor. */
  private def parsedDvs(path: String, size: Long,
      factory: ParquetPartitionReaderFactory): Map[String, Array[Long]] = {
    val ref = dvCache.get(path)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) return hit
    val acc = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    val r = factory.createReader(FilePartition(0, Array(pf(path, size))))
    try while (r.next()) {
      val row = r.get()
      val name = row.getUTF8String(0).toString
      val ords = GraftDv.decode(row.getBinary(1))
      // one container holds one row per name by construction; a
      // hand-crafted duplicate merges rather than shadows
      acc.get(name) match {
        case None => acc(name) = ords
        case Some(prev) =>
          val a = Array.concat(prev, ords); java.util.Arrays.sort(a); acc(name) = a
      }
    } finally r.close()
    val m = acc.toMap
    dvCache.put(path, new SoftReference(m))
    m
  }

  /** The deletion vector for one data file from DV containers. */
  def dvVector(name: String, containers: Seq[(String, Long)],
      factory: ParquetPartitionReaderFactory): Array[Long] = {
    val parts = containers.flatMap { case (p, s) =>
      parsedDvs(p, s, factory).get(name) }
    parts match {
      case Seq() => Array.emptyLongArray
      case Seq(only) => only
      case many =>
        val a = Array.concat(many: _*); java.util.Arrays.sort(a); a
    }
  }

  /** The deletion vector for one data file: ordinals from every live
    * position-delete file, merged sorted (duplicates — a row deleted
    * twice — are harmless to the merge walk). */
  def deletionVector(name: String, deletes: Seq[(String, Long)],
      factory: ParquetPartitionReaderFactory): Array[Long] = {
    val parts = deletes.flatMap { case (p, s) =>
      parsedPositions(p, s, factory).get(name) }
    parts match {
      case Seq() => Array.emptyLongArray
      case Seq(only) => only
      case many =>
        val a = Array.concat(many: _*); java.util.Arrays.sort(a); a
    }
  }

  /** −0.0 folds into +0.0 so boxed equality matches Spark's null-safe
    * equality (boxed NaN.equals(NaN) is already true, as Spark wants). */
  def norm(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else d
    case f: Float => if (f == 0.0f) 0.0f else f
    case other => other
  }

  /** Key tuple for set membership: a List so equals/hashCode are
    * structural (UTF8String, boxed primitives, null all compare by
    * value). `read` must already normalize and null-out. */
  def probeKey(read: (Int, DataType) => Any, ords: Array[Int],
      types: Array[DataType]): AnyRef = {
    var k: List[Any] = Nil
    var i = ords.length - 1
    while (i >= 0) { k = read(ords(i), types(i)) :: k; i -= 1 }
    k
  }

  /** Transient (no-copy) read of one vector cell for set probing. */
  def vecValue(v: ColumnVector, i: Int, dt: DataType): Any =
    if (v.isNullAt(i)) null
    else dt match {
      case IntegerType | DateType => v.getInt(i)
      case LongType | TimestampType | TimestampNTZType => v.getLong(i)
      case ShortType => v.getShort(i)
      case ByteType => v.getByte(i)
      case BooleanType => v.getBoolean(i)
      case FloatType => norm(v.getFloat(i))
      case DoubleType => norm(v.getDouble(i))
      case StringType => v.getUTF8String(i)
      case other => throw new IllegalStateException(
        s"eq-delete key type $other should have been gated at plan time")
    }

  /** One equality-delete group's key set, values COPIED out of the
    * reader's reused buffers. */
  def keySet(g: GraftEqGroup): java.util.HashSet[AnyRef] = {
    // NUL-joined: path concatenation without a separator could in
    // principle collide two distinct file lists into one cache key
    val ck = g.files.map(_._1).mkString("\u0000")
    val ref = eqCache.get(ck)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) return hit
    val set = new java.util.HashSet[AnyRef]()
    // key columns sit at ordinals 0..n-1 in the delete file's schema
    val ords = Array.tabulate(g.keyOrds.length)(identity)
    g.files.foreach { case (path, size) =>
      val r = g.factory.createReader(FilePartition(0, Array(pf(path, size))))
      try while (r.next()) {
        val row = r.get()
        set.add(probeKey((ord, dt) =>
          if (row.isNullAt(ord)) null
          else dt match {
            case StringType => row.getUTF8String(ord).clone()
            case _ => norm(row.get(ord, dt))
          }, ords, g.keyTypes))
      } finally r.close()
    }
    eqCache.put(ck, new SoftReference(set))
    set
  }
}

/** Sequential per-file columnar reader applying each file's work;
  * clean no-lineage files pass batches through untouched. */
private[lake] class GraftMorColumnarReader(files: Array[PartitionedFile],
    fac: GraftMorReaderFactory) extends PartitionReader[ColumnarBatch] {

  private var i = -1
  private var cur: PartitionReader[ColumnarBatch] = _
  private var work: GraftMorWork = _
  private var dvCursor = 0
  private var out: ColumnarBatch = _
  private var deletedRows = 0L
  private var dirtyFiles = 0L

  private def advanceFile(): Boolean = {
    i += 1
    if (i >= files.length) false
    else {
      val (r, w) = fac.columnarFor(files(i))
      cur = r; work = w; dvCursor = 0
      if (w != null && w.hasDeletes) dirtyFiles += 1
      true
    }
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector
      .metric.CustomTaskMetric] = Array(
    GraftTaskMetric(GraftMorMetrics.deletedRows, deletedRows),
    GraftTaskMetric(GraftMorMetrics.dirtyFiles, dirtyFiles))

  override def next(): Boolean = {
    while (true) {
      if (cur == null && !advanceFile()) return false
      if (cur.next()) {
        val b = cur.get()
        if (work == null) { out = b; return true }
        val f = rebuild(b)
        if (f != null) { out = f; return true }
        // batch fully deleted: keep draining this file
      } else { cur.close(); cur = null }
    }
    false
  }

  /** Zero-copy view over the reader's vectors: delete-filtered through
    * a live-row index map (null when the whole batch is deleted) and
    * projected to the output shape, with `_row_id` served as a
    * computed/delegated vector. Row indexes ascend within a file, so
    * one deletion-vector cursor serves all its batches. */
  private def rebuild(b: ColumnarBatch): ColumnarBatch = {
    val n = b.numRows()
    var map: Array[Int] = null
    var k = n
    if (work.hasDeletes) {
      val ri = b.column(fac.riOrd)
      val dv = work.dv
      map = new Array[Int](n)
      k = 0; var c = dvCursor; var r = 0
      while (r < n) {
        val idx = ri.getLong(r)
        while (c < dv.length && dv(c) < idx) c += 1
        val dead = (c < dv.length && dv(c) == idx) ||
          (work.eqs.nonEmpty && fac.eqDeadCol(b, r, work))
        if (!dead) { map(k) = r; k += 1 }
        r += 1
      }
      dvCursor = c
      deletedRows += n - k
      if (k == 0) return null
      if (k == n) map = null   // nothing filtered: direct views
    }
    val oc = if (work.cols != null) work.cols else fac.outCols
    val cols = new Array[ColumnVector](oc.length)
    var j = 0
    while (j < oc.length) {
      val e = oc(j)
      cols(j) =
        if (e >= 0) {
          if (map == null) b.column(e) else new GraftIndirectVector(b.column(e), map)
        } else if (e == -2) {
          val v = new ConstantColumnVector(k, IntegerType); v.setInt(i); v
        } else work.rowId match {
          case GraftNullId => new GraftNullLongVector(k)
          case GraftMaterializedId =>
            if (map == null) b.column(fac.gfOrd)
            else new GraftIndirectVector(b.column(fac.gfOrd), map)
          case GraftBaseId(base) =>
            new GraftRowIdVector(b.column(fac.riOrd), base, map)
          case GraftNoLineage =>
            throw new IllegalStateException("_row_id requested without lineage info")
        }
      j += 1
    }
    new ColumnarBatch(cols, k)
  }

  override def get(): ColumnarBatch = out
  override def close(): Unit = if (cur != null) cur.close()
}

/** Row-based twin (vectorization off / non-atomic schemas). */
private[lake] class GraftMorRowReader(files: Array[PartitionedFile],
    fac: GraftMorReaderFactory) extends PartitionReader[InternalRow] {

  private var i = -1
  private var cur: PartitionReader[InternalRow] = _
  private var work: GraftMorWork = _
  private var dvCursor = 0
  private var out: InternalRow = _
  private var deletedRows = 0L
  private var dirtyFiles = 0L
  private var projected = new GraftProjectedRow(fac.outCols)

  private def advanceFile(): Boolean = {
    i += 1
    if (i >= files.length) false
    else {
      val (r, w) = fac.rowFor(files(i))
      cur = r; work = w; dvCursor = 0
      // renamed files read through a per-file output→extended remap
      projected = new GraftProjectedRow(
        if (w != null && w.cols != null) w.cols else fac.outCols)
      projected.fileOrd = i
      if (w != null && w.hasDeletes) dirtyFiles += 1
      true
    }
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector
      .metric.CustomTaskMetric] = Array(
    GraftTaskMetric(GraftMorMetrics.deletedRows, deletedRows),
    GraftTaskMetric(GraftMorMetrics.dirtyFiles, dirtyFiles))

  override def next(): Boolean = {
    while (true) {
      if (cur == null && !advanceFile()) return false
      if (cur.next()) {
        val row = cur.get()
        if (work == null) { out = row; return true }
        val idx = row.getLong(fac.riOrd)
        if (work.hasDeletes) {
          val dv = work.dv
          var c = dvCursor
          while (c < dv.length && dv(c) < idx) c += 1
          dvCursor = c
          val dead = (c < dv.length && dv(c) == idx) ||
            (work.eqs.nonEmpty && fac.eqDeadRow(row, work))
          if (dead) { deletedRows += 1 }
          else { emit(row, idx); return true }
        } else { emit(row, idx); return true }
      } else { cur.close(); cur = null }
    }
    false
  }

  private def emit(row: InternalRow, idx: Long): Unit = {
    val id: java.lang.Long = work.rowId match {
      case GraftNullId | GraftNoLineage => null
      case GraftMaterializedId =>
        if (row.isNullAt(fac.gfOrd)) null else Long.box(row.getLong(fac.gfOrd))
      case GraftBaseId(base) => Long.box(base + idx)
    }
    projected.set(row, id)
    out = projected
  }

  override def get(): InternalRow = out
  override def close(): Unit = if (cur != null) cur.close()
}

/** A zero-copy view of a reader-owned vector exposing only live rows:
  * every access maps through the live-row index (Iceberg's
  * ColumnVectorWithFilter shape). Children wrap lazily with the same
  * map, so the FINAL getStruct/getInterval paths (which pass the
  * caller's rowId to children) stay single-mapped. */
private[lake] final class GraftIndirectVector(base: ColumnVector, map: Array[Int])
    extends ColumnVector(base.dataType()) {
  override def close(): Unit = ()   // base is owned by the delegate reader
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = base.numNulls
  override def isNullAt(i: Int): Boolean = base.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(map(i))
  override def getByte(i: Int): Byte = base.getByte(map(i))
  override def getShort(i: Int): Short = base.getShort(map(i))
  override def getInt(i: Int): Int = base.getInt(map(i))
  override def getLong(i: Int): Long = base.getLong(map(i))
  override def getFloat(i: Int): Float = base.getFloat(map(i))
  override def getDouble(i: Int): Double = base.getDouble(map(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(map(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(map(i))
  override def getDecimal(i: Int, p: Int, s: Int): Decimal =
    base.getDecimal(map(i), p, s)
  override def getUTF8String(i: Int): UTF8String = base.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(map(i))
  override def getInterval(i: Int): CalendarInterval = base.getInterval(map(i))
  override def getChild(ordinal: Int): ColumnVector =
    new GraftIndirectVector(base.getChild(ordinal), map)
}

/** `_row_id` = firstRowId + row_index, as a view over the generated
  * row-index vector (live-row mapped when a delete filter is active). */
private[lake] final class GraftRowIdVector(ri: ColumnVector, base: Long,
    map: Array[Int]) extends ColumnVector(LongType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getLong(i: Int): Long =
    base + ri.getLong(if (map == null) i else map(i))
  override def getBoolean(i: Int): Boolean = throw new UnsupportedOperationException
  override def getByte(i: Int): Byte = throw new UnsupportedOperationException
  override def getShort(i: Int): Short = throw new UnsupportedOperationException
  override def getInt(i: Int): Int = throw new UnsupportedOperationException
  override def getFloat(i: Int): Float = throw new UnsupportedOperationException
  override def getDouble(i: Int): Double = throw new UnsupportedOperationException
  override def getArray(i: Int): ColumnarArray = throw new UnsupportedOperationException
  override def getMap(i: Int): ColumnarMap = throw new UnsupportedOperationException
  override def getDecimal(i: Int, p: Int, s: Int): Decimal =
    throw new UnsupportedOperationException
  override def getUTF8String(i: Int): UTF8String =
    throw new UnsupportedOperationException
  override def getBinary(i: Int): Array[Byte] = throw new UnsupportedOperationException
  override def getInterval(i: Int): CalendarInterval =
    throw new UnsupportedOperationException
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException
}

/** All-null LongType vector (`_row_id` of pre-lineage files).
  * `rows` is the owning batch's row count — the ColumnVector contract
  * says numNulls is the number of nulls, and every row here is null. */
private[lake] final class GraftNullLongVector(rows: Int) extends ColumnVector(LongType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = true
  override def numNulls: Int = rows
  override def isNullAt(i: Int): Boolean = true
  override def getLong(i: Int): Long = 0L
  override def getBoolean(i: Int): Boolean = throw new UnsupportedOperationException
  override def getByte(i: Int): Byte = throw new UnsupportedOperationException
  override def getShort(i: Int): Short = throw new UnsupportedOperationException
  override def getInt(i: Int): Int = throw new UnsupportedOperationException
  override def getFloat(i: Int): Float = throw new UnsupportedOperationException
  override def getDouble(i: Int): Double = throw new UnsupportedOperationException
  override def getArray(i: Int): ColumnarArray = throw new UnsupportedOperationException
  override def getMap(i: Int): ColumnarMap = throw new UnsupportedOperationException
  override def getDecimal(i: Int, p: Int, s: Int): Decimal =
    throw new UnsupportedOperationException
  override def getUTF8String(i: Int): UTF8String =
    throw new UnsupportedOperationException
  override def getBinary(i: Int): Array[Byte] = throw new UnsupportedOperationException
  override def getInterval(i: Int): CalendarInterval =
    throw new UnsupportedOperationException
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException
}

/** Read-only projection of the extended-schema row to the scan's
  * output shape: appended eq-key / physical-lineage / row-index
  * columns drop off, `_row_id` serves from a per-row computed value
  * and the file ordinal from `fileOrd`. */
private[lake] final class GraftProjectedRow(outCols: Array[Int]) extends InternalRow {
  private var row: InternalRow = _
  private var rowId: java.lang.Long = _
  var fileOrd: Int = 0
  def set(r: InternalRow, id: java.lang.Long): Unit = { row = r; rowId = id }
  override def numFields: Int = outCols.length
  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
  override def update(i: Int, v: Any): Unit = throw new UnsupportedOperationException
  override def copy(): InternalRow = {
    val w = new GraftProjectedRow(outCols); w.set(row.copy(), rowId); w.fileOrd = fileOrd; w
  }
  override def isNullAt(i: Int): Boolean =
    if (outCols(i) == -1) rowId == null
    else outCols(i) != -2 && row.isNullAt(outCols(i))
  override def getBoolean(i: Int): Boolean = row.getBoolean(outCols(i))
  override def getByte(i: Int): Byte = row.getByte(outCols(i))
  override def getShort(i: Int): Short = row.getShort(outCols(i))
  override def getInt(i: Int): Int =
    if (outCols(i) == -2) fileOrd else row.getInt(outCols(i))
  override def getLong(i: Int): Long =
    if (outCols(i) < 0) rowId.longValue() else row.getLong(outCols(i))
  override def getFloat(i: Int): Float = row.getFloat(outCols(i))
  override def getDouble(i: Int): Double = row.getDouble(outCols(i))
  override def getDecimal(i: Int, p: Int, s: Int): Decimal =
    row.getDecimal(outCols(i), p, s)
  override def getUTF8String(i: Int): UTF8String = row.getUTF8String(outCols(i))
  override def getBinary(i: Int): Array[Byte] = row.getBinary(outCols(i))
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(outCols(i))
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(outCols(i))
  override def getInterval(i: Int): CalendarInterval = row.getInterval(outCols(i))
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(outCols(i))
  override def getStruct(i: Int, numFields: Int): InternalRow =
    row.getStruct(outCols(i), numFields)
  override def getArray(i: Int): ArrayData = row.getArray(outCols(i))
  override def getMap(i: Int): MapData = row.getMap(outCols(i))
  override def get(i: Int, dt: DataType): AnyRef =
    if (outCols(i) == -1) rowId
    else if (outCols(i) == -2) Int.box(fileOrd)
    else row.get(outCols(i), dt)
}
