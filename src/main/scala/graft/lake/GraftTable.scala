package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** GraftTable — a from-scratch Spark-native lake table format
  * (SURVEY.md §2.2), re-expressing the reference's Iceberg lifecycle
  * (reference: SPARK_ICEBERG_GUIDE.md §§4-8) on plain parquet + a JSON
  * commit log, in the design vocabulary of the public Delta Lake paper
  * (VLDB 2020): immutable data files, an ordered log of add/remove
  * actions, checkpoints, snapshot isolation by log replay.
  *
  * Layout under the table root:
  * {{{
  *   data/<snapshot>-<n>-<uuid>.parquet     immutable data files
  *   _graft_log/000000000N.json             commit N (adds/removes)
  *   _graft_log/checkpoint-N.json           full file list at N (only
  *                                          below the planning threshold)
  *   _graft_log/ckptmeta-N.json             O(1) checkpoint header
  *   _graft_log/ckptfiles-N.parquet         the file list as parquet
  * }}}
  *
  * Commit protocol: write to a temp name, atomic-rename into place,
  * fail if the target exists — single-writer locally; on an object
  * store the rename becomes the store's put-if-absent. Per-file
  * min/max column stats let scans prune files before Spark ever lists
  * splits. Above the planning threshold the O(table) planes all run
  * as Spark jobs over the ckptfiles parquet — scan planning, DML
  * victim selection, the metadata views, the orphan sweep, and the
  * checkpoint build itself (a distributed delta off the previous
  * checkpoint; no full-list JSON is ever serialized on the driver) —
  * so only O(retained tail actions) ever sits in driver memory.
  */
object GraftTable {

  case class ColStats(min: Option[String], max: Option[String], nulls: Long)
  /** `partition`: this file's partition tuple (label → rendered value)
    * under the table's partition spec — every row in the file has the
    * tuple's values, so partition pruning is exact, not bounds-based.
    * `content`: 0 = data, 1 = position-delete file (rows of
    * (file_path, pos)), 2 = equality-delete file (rows of the
    * `eqCols` key values; applies to data files committed at or
    * before the delete — the Iceberg v2 sequence-number rule, carried
    * here by the snapshot-id file-name prefix). Optional fields so
    * commits from older logs parse. */
  /** `firstRowId`: row lineage (the Iceberg v3 `_row_id` design) —
    * this data file's rows are identified as firstRowId + position.
    * `Some(-1)` marks a file whose row ids are MATERIALIZED in its
    * physical `_gf_row_id` column (rewrite outputs: identity survives
    * compaction and re-sorting). `None` = written before the feature
    * (or still staged): its rows read a NULL `_row_id`. */
  case class FileEntry(path: String, sizeBytes: Long, records: Long,
      stats: Map[String, ColStats],
      partition: Option[Map[String, String]] = None,
      content: Option[Int] = None,
      eqCols: Option[Seq[String]] = None,
      specId: Option[Int] = None,
      firstRowId: Option[Long] = None) {
    def partitionValues: Map[String, String] = partition.getOrElse(Map.empty)
    /** The partition spec this file was written under, as an index
      * into the table's spec history. Absent = spec 0 (every file of
      * a never-evolved table — and every pre-evolution log entry —
      * was written under the create-time spec). */
    def specIdOr0: Int = specId.getOrElse(0)
    def isDelete: Boolean = content.exists(_ != 0)
    def isData: Boolean = !isDelete
    /** The snapshot that wrote this file (file-name prefix). */
    def snapshotOfName: Long =
      path.split('/').last.takeWhile(_.isDigit).toLong
  }
  /** Stats-encoding version stamped into every commit/checkpoint this
    * code writes. Version 2 = the −1 unknown-null-count sentinel;
    * manifests WITHOUT the stamp predate it (their code clamped
    * unknown counts to 0), so replay treats their nulls==0 as unknown
    * — null-count pruning declines on those files instead of trusting
    * a count that may never have been computed. */
  private[lake] val statsVersionCurrent = 2

  /** `statsVersion` defaults to None — NOT to the current version —
    * because json4s fills missing JSON fields from constructor
    * defaults: a Some default would stamp every legacy manifest as
    * current at parse time. toJson stamps unconditionally instead
    * (everything this code writes is by definition current). */
  case class Commit(snapshotId: Long, parentId: Option[Long], timestampMs: Long,
      operation: String, adds: Seq[FileEntry], removes: Seq[String],
      properties: Map[String, String], schemaJson: Option[String],
      statsVersion: Option[Int] = None)

  /** A replayed table state. `schema` is resolved once, by the header
    * fold of the replay that built it. */
  case class Snapshot(snapshotId: Long, timestampMs: Long, operation: String,
      files: Seq[FileEntry], properties: Map[String, String], schema: StructType)

  private implicit val formats: Formats = DefaultFormats

  private[lake] def logDir(root: String): Path = Paths.get(root, "_graft_log")
  private def dataDir(root: String): Path = Paths.get(root, "data")
  /** Position-delete files live OUTSIDE data/ so the append-only
    * directory stream never sees them (their schema differs too). */
  private def deleteDir(root: String): Path = Paths.get(root, "deletes")
  private def commitPath(root: String, id: Long): Path =
    logDir(root).resolve(f"$id%010d.json")

  /** Replace-generation marker: a tiny denormalized copy of the
    * `graft.generation` table property, readable by an executor in one
    * small-file read (no log replay). Absent = generation 0. Streams
    * pin the COMMITTED property (atomic with the schema they capture);
    * only the per-task guard reads this file, and it fires on
    * marker > pin, so a lost marker degrades to "no guard" rather
    * than to a spurious mismatch. */
  private def generationPath(root: String): Path = logDir(root).resolve("GENERATION")

  /** The committed twin of the marker: bumped in the SAME commit that
    * changes what live streams would silently misread (REPLACE, and
    * the rename/drop/widen schema evolutions). Streams pin THIS value
    * — it is atomic with the schema they capture — while the marker
    * stays the executor-readable per-task check. */
  private[lake] val generationProp = "graft.generation"

  /** The table's replace/evolution generation counter as the MARKER
    * file reports it (0 until the first bump). This is the per-task
    * fast read; the committed source of truth is `generationProp`. */
  def currentGeneration(root: String): Long =
    if (Files.exists(generationPath(root)))
      scala.util.Try(Files.readString(generationPath(root)).trim.toLong).getOrElse(0L)
    else 0L

  private def committedGeneration(props: Map[String, String]): Long =
    props.get(generationProp).flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(0L)

  /** One past the max of marker and committed property: a marker lost
    * to a log-only copy/restore (it lives outside the commit chain)
    * cannot regress the committed counter, and a marker left ahead by
    * a lost commit race stays monotonic. */
  private def nextGeneration(root: String, props: Map[String, String]): Long =
    math.max(currentGeneration(root), committedGeneration(props)) + 1

  /** Atomic REPLACE of the generation marker: executors read it
    * concurrently (GenerationGuard) and a torn in-place write would
    * read as generation 0 — which replaceFrom would then bump to 1,
    * REGRESSING a multi-generation counter back into a value a live
    * stream may have pinned. Temp write + rename is atomic on POSIX
    * and maps to an overwriting put on an object store. */
  private def writeGeneration(root: String, gen: Long): Unit = {
    val tmp = logDir(root).resolve(s".tmp-gen-${UUID.randomUUID()}")
    Files.writeString(tmp, gen.toString)
    Files.move(tmp, generationPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // ── partition spec ──────────────────────────────────────────────────

  /** Declared partition transforms (the Iceberg partition-spec
    * vocabulary: PARTITIONED BY (days(ts), bucket(16, id), ...)).
    * Stored as the table property `graft.partition-spec`, e.g.
    * `identity(o_orderdate),bucket(16,o_custkey),truncate(4,name),days(ts)`.
    * Each file records its (label → rendered value) tuple, so a
    * partition-pruned scan drops files EXACTLY (every row in a file
    * shares the tuple), before per-file min/max stats even load. */
  sealed trait PTransform { def col: String; def label: String }
  case class PIdentity(col: String) extends PTransform { def label: String = col }
  case class PBucket(col: String, n: Int) extends PTransform { def label = s"${col}_bucket_$n" }
  case class PTruncate(col: String, w: Int) extends PTransform { def label = s"${col}_trunc_$w" }
  case class PDays(col: String) extends PTransform { def label = s"${col}_day" }
  case class PMonths(col: String) extends PTransform { def label = s"${col}_month" }
  case class PYears(col: String) extends PTransform { def label = s"${col}_year" }
  case class PHours(col: String) extends PTransform { def label = s"${col}_hour" }

  /** The time-bucket transforms (days/months/years/hours) all render
    * to fixed-width ISO-prefix text, so within one transform
    * lexicographic order IS chronological order and range predicates
    * prune at the transform's granularity. */
  private def isTimeBucket(t: PTransform): Boolean = t match {
    case PDays(_) | PMonths(_) | PYears(_) | PHours(_) => true
    case _ => false
  }

  val specProp = "graft.partition-spec"
  /** Rendered into partition tuples for rows whose partition source
    * value is NULL (hive's sentinel, which Spark's partitioned write
    * emits on disk). Null partitions never prune. */
  private val nullPart = "__HIVE_DEFAULT_PARTITION__"

  private val specRe = """(identity|days|months|years|hours)\(\s*([\w.]+)\s*\)|(bucket|truncate)\(\s*(\d+)\s*,\s*([\w.]+)\s*\)""".r

  def parsePartitionSpec(s: String): Seq[PTransform] = {
    // split on commas OUTSIDE parens — bucket(16,c) is one term
    val terms = s.split(",(?![^()]*\\))").map(_.trim).filter(_.nonEmpty).toSeq
    val parsed = terms.map {
      case specRe("identity", c, null, null, null) => PIdentity(c)
      case specRe("days", c, null, null, null) => PDays(c)
      case specRe("months", c, null, null, null) => PMonths(c)
      case specRe("years", c, null, null, null) => PYears(c)
      case specRe("hours", c, null, null, null) => PHours(c)
      case specRe(null, null, "bucket", n, c) => PBucket(c, n.toInt)
      case specRe(null, null, "truncate", w, c) => PTruncate(c, w.toInt)
      case other => throw new IllegalArgumentException(
        s"bad partition spec term '$other' (want identity(c)|days(c)|months(c)|years(c)|hours(c)|bucket(n,c)|truncate(w,c))")
    }
    require(parsed.map(_.label).distinct.size == parsed.size,
      s"duplicate partition transforms in '$s'")
    parsed
  }

  private def tableSpec(props: Map[String, String]): Seq[PTransform] =
    props.get(specProp).map(parsePartitionSpec).getOrElse(Seq.empty)

  /** Spec-evolution history (Iceberg's partition-spec list): every
    * spec the table has ever written under, `;`-joined in spec-id
    * order (spec strings never contain `;`; an unpartitioned spec is
    * the empty string). `graft.partition-spec` stays the CURRENT spec
    * — the history's last entry — so pre-evolution readers of that
    * property keep working. Absent = a never-evolved table: a
    * one-entry history of the current spec at id 0, which is exactly
    * what every already-written file's absent specId stamp means. */
  val specHistoryProp = "graft.partition-spec-history"

  /** Parsed-history memo keyed by the property string itself: every
    * planning call re-derives the history from the snapshot's props,
    * and while one parse is cheap, DML-heavy lifecycles hit this
    * dozens of times per commit chain. Histories are append-only and
    * tiny (a handful of specs), so value identity is the right key
    * and the map stays bounded per distinct table lineage. */
  private val specHistoryMemo =
    new java.util.concurrent.ConcurrentHashMap[String, IndexedSeq[Seq[PTransform]]]()

  /** All specs ever active, indexed by spec-id. */
  private[lake] def specHistory(props: Map[String, String]): IndexedSeq[Seq[PTransform]] =
    props.get(specHistoryProp) match {
      case Some(h) =>
        if (specHistoryMemo.size > 1024) specHistoryMemo.clear()  // bounded
        specHistoryMemo.computeIfAbsent(h, _.split(";", -1).toIndexedSeq.map(s =>
          if (s.trim.isEmpty) Seq.empty else parsePartitionSpec(s)))
      case None => IndexedSeq(tableSpec(props))
    }

  /** The spec-id new writes stamp: the history's last entry. */
  private[lake] def currentSpecId(props: Map[String, String]): Int =
    props.get(specHistoryProp).map(_.split(";", -1).length - 1).getOrElse(0)

  /** Per-file spec dispatch: the file's own spec from the history.
    * Clamped to the last entry for an out-of-range stamp (cannot
    * happen through this code — REPLACE rewrites every file and
    * resets the property set wholesale — but a hand-edited log should
    * degrade to current-spec pruning, not throw). */
  private def specForFile(specs: IndexedSeq[Seq[PTransform]], f: FileEntry): Seq[PTransform] =
    specs(math.min(f.specIdOr0, specs.size - 1))

  /** render ∘ parse = identity: the spec string evolveSpec commits
    * round-trips through parsePartitionSpec. */
  private[lake] def renderTransform(t: PTransform): String = t match {
    case PIdentity(c) => s"identity($c)"
    case PBucket(c, n) => s"bucket($n,$c)"
    case PTruncate(c, w) => s"truncate($w,$c)"
    case PDays(c) => s"days($c)"
    case PMonths(c) => s"months($c)"
    case PYears(c) => s"years($c)"
    case PHours(c) => s"hours($c)"
  }

  private[lake] def renderSpec(spec: Seq[PTransform]): String =
    spec.map(renderTransform).mkString(",")

  // ── declarative write sort order ────────────────────────────────────

  /** Iceberg's `ALTER TABLE t WRITE ORDERED BY c1, c2 DESC` analog: a
    * table property every subsequent write honors automatically — the
    * machinery rewrite_data_files(strategy=>'sort') applies on demand,
    * made a standing property of the table. `WRITE ORDERED BY` sets
    * range distribution + a within-task sort (each output file covers
    * a tight disjoint range of the sort key, so min/max stats prune
    * like a clustered index); `WRITE LOCALLY ORDERED BY` sorts within
    * whatever distribution the table already uses; `WRITE UNORDERED`
    * clears it. Rendered `c ASC,c DESC`, comma-joined, parse∘render
    * = identity. */
  val sortOrderProp = "graft.sort-order"

  /** (column, ascending) terms; empty/absent = unordered. */
  private[lake] def parseSortOrder(s: String): Seq[(String, Boolean)] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { term =>
      term.split("\\s+").toSeq match {
        case Seq(c) => (c, true)
        case Seq(c, dir) if dir.equalsIgnoreCase("ASC") => (c, true)
        case Seq(c, dir) if dir.equalsIgnoreCase("DESC") => (c, false)
        case _ => throw new IllegalArgumentException(
          s"bad sort-order term '$term' (want col [ASC|DESC])")
      }
    }

  private[lake] def sortOrderOf(props: Map[String, String]): Seq[(String, Boolean)] =
    props.get(sortOrderProp).map(parseSortOrder).getOrElse(Seq.empty)

  /** Sort terms that survive against the frame actually being written:
    * schema evolution may have dropped or renamed a sort column since
    * the order was declared; a write must keep succeeding then (the
    * order silently stops covering the dead name — Iceberg's behavior
    * when a sorted-by column is dropped), not fail every append. */
  private def liveSortCols(df: DataFrame, props: Map[String, String]): Seq[Column] = {
    val names = df.schema.fieldNames
    sortOrderOf(props).flatMap { case (c, asc) =>
      names.find(_.equalsIgnoreCase(c)).map(n => if (asc) col(n).asc else col(n).desc)
    }
  }

  /** The table's declared sort columns (for procedure defaults:
    * rewrite_data_files(strategy=>'sort') with no explicit order). */
  def declaredSortColumns(root: String): Seq[String] =
    sortOrderOf(state(root).properties).map(_._1)

  /** `ALTER TABLE … WRITE ORDERED BY / LOCALLY ORDERED BY / UNORDERED`
    * → one properties-only commit carrying both the order and the
    * distribution mode it implies (Iceberg couples them the same way:
    * ordered ⇒ range, locally ordered / unordered ⇒ none). */
  def setWriteOrder(root: String, terms: Seq[(String, Boolean)],
      distributionMode: String): Long = {
    val schema = tableSchema(root)
    terms.foreach { case (c, _) =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"sort column '$c' not in table schema ${schema.fieldNames.mkString("(", ", ", ")")}")
    }
    val rendered = terms.map { case (c, asc) => if (asc) s"$c ASC" else s"$c DESC" }.mkString(",")
    setProperties(root, Map(
      sortOrderProp -> rendered, "write.distribution-mode" -> distributionMode))
  }

  /** The transform as a Column producing the RENDERED partition value
    * (string) — the same text form the pruning comparisons use:
    * numbers decimal, dates ISO, timestamps as UTC dates for days(). */
  private def transformCol(t: PTransform, dt: DataType): Column = t match {
    case PIdentity(c) => dt match {
      case TimestampType => unix_micros(col(c)).cast("string")
      case TimestampNTZType =>   // NTZ→LTZ cast is identity under the pinned UTC session TZ
        unix_micros(col(c).cast("timestamp")).cast("string")
      case _ => col(c).cast("string")   // numbers decimal text, dates ISO, strings raw
    }
    case PBucket(c, n) => pmod(crc32(col(c).cast("string")), lit(n)).cast("string")
    case PTruncate(c, w) => dt match {
      case StringType => substring(col(c), 1, w)
      case IntegerType | LongType => (col(c) - pmod(col(c), lit(w))).cast("string")
      case _ => throw new IllegalArgumentException(s"truncate($w,$c) needs string/int/long, got $dt")
    }
    case PDays(c) => to_date(col(c)).cast("string")   // session TZ pinned UTC
    case PMonths(c) => date_format(tsNorm(c, dt, t), "yyyy-MM")
    case PYears(c) => date_format(tsNorm(c, dt, t), "yyyy")
    case PHours(c) => dt match {
      case TimestampType | TimestampNTZType => date_format(tsNorm(c, dt, t), "yyyy-MM-dd-HH")
      case _ => throw new IllegalArgumentException(s"hours($c) needs a timestamp column, got $dt")
    }
  }

  /** Normalize a time-partition source column for date_format: NTZ
    * casts to LTZ (identity under the pinned UTC session TZ); dates
    * and timestamps pass through. Other types are spec errors. */
  private def tsNorm(c: String, dt: DataType, t: PTransform): Column = dt match {
    case TimestampNTZType => col(c).cast("timestamp")
    case TimestampType | DateType => col(c)
    case _ => throw new IllegalArgumentException(
      s"${t.label}: time transform needs date/timestamp, got $dt")
  }

  /** Driver-side twin of transformCol for a predicate literal (stats
    * text form), used to prune partition tuples. Returns None when the
    * transform of this literal isn't computable (then no prune). */
  private def transformLit(t: PTransform, dt: DataType, v: String): Option[String] = t match {
    case PIdentity(_) => Some(v)
    case PBucket(_, n) => dt match {
      // the pred's text form equals Spark's CAST(col AS STRING) only
      // for these types (timestamp preds carry epoch-micros text, but
      // the write path hashed the formatted cast) — else no prune
      case IntegerType | LongType | ShortType | ByteType | StringType | DateType =>
        val crc = new java.util.zip.CRC32()
        crc.update(v.getBytes("UTF-8"))
        Some((crc.getValue % n).toString)   // crc is 0..2^32-1, so % n ≥ 0
      case _ => None
    }
    case PTruncate(_, w) => dt match {
      case StringType => Some(v.take(w))
      case IntegerType | LongType =>
        scala.util.Try(v.toLong).toOption.map(x => (x - math.floorMod(x, w.toLong)).toString)
      case _ => None
    }
    case PDays(_) => dt match {
      case DateType => Some(v)   // already ISO date text
      case TimestampType | TimestampNTZType => scala.util.Try(v.toLong).toOption.map(us =>
        java.time.LocalDate.ofEpochDay(Math.floorDiv(us, 86400000000L)).toString)
      case _ => None
    }
    case PMonths(_) => timeBucketLit(dt, v, isoPrefix = 7, pattern = "yyyy-MM")
    case PYears(_) => timeBucketLit(dt, v, isoPrefix = 4, pattern = "yyyy")
    case PHours(_) => dt match {   // hours() never applies to DateType
      case TimestampType | TimestampNTZType => microsToPattern(v, "yyyy-MM-dd-HH")
      case _ => None
    }
  }

  /** Pred-literal → time-bucket text: date preds carry ISO date text
    * (the bucket is a prefix); timestamp preds carry epoch-micros
    * text (format at the bucket's granularity, UTC). */
  private def timeBucketLit(dt: DataType, v: String, isoPrefix: Int,
      pattern: String): Option[String] = dt match {
    case DateType => Some(v.take(isoPrefix))
    case TimestampType | TimestampNTZType => microsToPattern(v, pattern)
    case _ => None
  }

  private def microsToPattern(v: String, pattern: String): Option[String] =
    scala.util.Try(v.toLong).toOption.map { us =>
      java.time.LocalDateTime
        .ofEpochSecond(Math.floorDiv(us, 1000000L), 0, java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern(pattern))
    }

  /** `root` as the absolute, normalized path the store registry matches
    * component-wise: a relative or dotted table root would silently
    * miss its binding. */
  private[lake] def rootPath(root: String): Path = Paths.get(root).toAbsolutePath.normalize

  /** Hydrate a planned read's file list through the root's store before
    * any of it is opened (every choke point below calls this;
    * double-firing is an idempotent existence check per path). */
  private[lake] def hydrate(root: String, rels: Seq[String]): Unit =
    if (rels.nonEmpty) { val p = rootPath(root); LakeStore.at(p).hydrate(p, rels) }

  /** True when `root` is a LAZY-FOLLOWER data root — its own store or
    * one bound under it serves on-demand hydration: live data files may
    * be locally absent by design. Read paths that open table-relative
    * files WITHOUT going through [[hydrate]] must either hydrate first
    * or refuse loudly on such a root — silently serving the hydrated
    * subset is the wrong-results class the lazy-follower invariant
    * forbids. */
  private[lake] def isLazyRoot(root: String): Boolean = {
    val p = rootPath(root)
    LakeStore.at(p).isLazyRoot(p) ||
      LakeStore.within(p).exists { case (r, store) => store.isLazyRoot(r) }
  }

  /** Ready a V1 read through the root's store, resolved once: data
    * files a ranged mount serves IN PLACE map to `grafts3://` URIs
    * (footer + projected column chunks; Catalyst pushes the projection
    * into the parquet scan, so the V1 plane transfers column bytes
    * too); every other data file, and `deletes` (MoR delete files,
    * small and read whole — the native plane's rule), hydrates. Returns
    * (per-path URI map, the DataFrameReader options that open those
    * URIs: the grafts3 FileSystem impl plus the client conf of the
    * store that minted them — file-source options merge into the
    * scan's hadoop conf via newHadoopConfWithOptions). */
  private def prepareV1Read(root: String, dataPaths: Seq[String],
      deletes: Seq[String] = Seq.empty): (Map[String, String], Map[String, String]) = {
    val p = rootPath(root)
    val store = LakeStore.at(p)
    val remote = store.remoteReads(p, dataPaths)
    val local = (if (remote.isEmpty) dataPaths else dataPaths.filterNot(remote.contains)) ++ deletes
    if (local.nonEmpty) store.hydrate(p, local)
    (remote, if (remote.isEmpty) Map.empty
      else (GraftRangedFs.confKey +: store.remoteReadConf(p)).toMap)
  }

  /** Atomic put-if-absent, arbitrated first by the target's store. A
    * rename would silently REPLACE an existing target on POSIX
    * (rename(2) semantics), losing a concurrent writer's commit — a
    * hard link both is atomic and fails with
    * FileAlreadyExistsException when the target exists, which is
    * exactly the object-store conditional-put this stands in for. */
  private[graft] def writeAtomic(target: Path, content: String): Unit = {
    LakeStore.at(target).arbitrate(target, content)   // loser throws ISE (412)
    val tmp = target.getParent.resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try Files.createLink(target, tmp)
    catch { case e: java.nio.file.FileAlreadyExistsException =>
      // A byte-identical occupant is OUR write already materialized —
      // a sync poller (materializeMissing) can pull a just-won remote
      // key before the winner's local link lands — or an idempotent
      // replay (an agreeing txn decision). Success, not a lost race;
      // genuinely-concurrent commit payloads PROVABLY differ (toJson
      // stamps a per-serialization writerNonce, so even property-only
      // commits from independent writers never collide byte-wise).
      val same = scala.util.Try(Files.readString(target) == content)
        .getOrElse(false)
      if (!same) throw new IllegalStateException(
        s"concurrent commit detected at $target", e)
    } finally Files.deleteIfExists(tmp)
  }

  private def toJson(c: Commit): String = {
    import JsonDSL._
    val json: JValue =
      ("snapshotId" -> c.snapshotId) ~
      ("parentId" -> c.parentId) ~
      ("timestampMs" -> c.timestampMs) ~
      ("operation" -> c.operation) ~
      ("adds" -> c.adds.map(f =>
        ("path" -> f.path) ~ ("sizeBytes" -> f.sizeBytes) ~
        ("records" -> f.records) ~
        ("stats" -> f.stats.map { case (k, v) =>
          k -> (("min" -> v.min) ~ ("max" -> v.max) ~ ("nulls" -> v.nulls)) }) ~
        ("partition" -> f.partition) ~
        ("content" -> f.content) ~
        ("eqCols" -> f.eqCols) ~
        ("specId" -> f.specId) ~
        ("firstRowId" -> f.firstRowId))) ~
      ("removes" -> c.removes) ~
      ("properties" -> c.properties) ~
      ("schemaJson" -> c.schemaJson) ~
      ("statsVersion" -> statsVersionCurrent) ~
      // per-serialization nonce: writeAtomic (and the object-store
      // arbiter's 412 path) treats a byte-identical occupant as "my
      // own write already materialized" — the nonce makes that PROOF
      // rather than heuristic, since even two property-only commits
      // serialized by independent writers in the same millisecond can
      // no longer collide byte-wise. parseCommit ignores it (json4s
      // extracts only case-class fields); checkpoint writers that race
      // identical content already swallow the resulting loss.
      ("writerNonce" -> UUID.randomUUID().toString)
    JsonMethods.compact(JsonMethods.render(json))
  }

  private[lake] def parseCommit(s: String): Commit =
    JsonMethods.parse(s).extract[Commit]

  /** The commit in log slot `id` — the one read point for commit slots. */
  private def readCommit(root: String, id: Long): Commit =
    parseCommit(Files.readString(commitPath(root, id)))

  private[lake] def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Recursively delete a directory tree, closing the walk stream
    * (an unclosed Files.walk holds directory handles until GC). No-op
    * on a missing path. */
  private[graft] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally w.close()
  }

  private[lake] def listCommitIds(root: String): Seq[Long] =
    listDir(logDir(root))
      .map(_.getFileName.toString)
      .filter(_.matches("\\d+\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted

  private def listCheckpointIds(root: String): Seq[Long] =
    listDir(logDir(root))
      .map(_.getFileName.toString)
      .filter(_.matches("checkpoint-\\d+\\.json"))
      .map(_.stripPrefix("checkpoint-").stripSuffix(".json").toLong).sorted

  /** Parquet checkpoint file-lists (`ckptfiles-N.parquet` directories)
    * — the executor-readable twin of checkpoint-N.json, written by
    * rewriteManifests so distributed planning can prune the manifest
    * without materializing it on the driver. */
  private def listCkptFilesIds(root: String): Seq[Long] =
    listDir(logDir(root))
      .map(_.getFileName.toString)
      .filter(_.matches("ckptfiles-\\d+\\.parquet"))
      .map(_.stripPrefix("ckptfiles-").stripSuffix(".parquet").toLong).sorted

  /** Checkpoint ids usable as a replay seed: legacy JSON checkpoints
    * plus parquet-authoritative ones (ckptmeta + ckptfiles, written
    * WITHOUT a JSON twin above the planning threshold — serializing a
    * million-entry JSON on the driver is exactly the allocation the
    * distributed checkpoint build exists to avoid). */
  private def seedCheckpointIds(root: String): Seq[Long] =
    (listCheckpointIds(root) ++ listCkptFilesIds(root).filter(k =>
      Files.exists(logDir(root).resolve(s"ckptmeta-$k.json")))).distinct.sorted

  /** The checkpoint commit at `k` with its full add list: from
    * checkpoint-N.json when present, else collected off the ckptfiles
    * parquet. The collect is the DRIVER FALLBACK plane (state(),
    * sub-threshold metadata views) — distributed planners read the
    * parquet as a DataFrame and never come through here. */
  private def checkpointCommit(root: String, k: Long): Commit = {
    val json = logDir(root).resolve(s"checkpoint-$k.json")
    if (Files.exists(json)) parseCommit(Files.readString(json))
    else {
      val meta = parseCommit(Files.readString(logDir(root).resolve(s"ckptmeta-$k.json")))
      val spark = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .getOrElse(throw new IllegalStateException(
          s"checkpoint $k at $root is parquet-only; reading it needs an active SparkSession"))
      val entries = spark.read
        .parquet(logDir(root).resolve(s"ckptfiles-$k.parquet").toString)
        .collect().toSeq.map(ckptRowToEntry)
      meta.copy(adds = entries,
        properties = meta.properties - "graft.ckpt.file-count")
    }
  }

  /** ckptfiles parquet row → FileEntry (the write-side twin lives in
    * writeCheckpointArtifacts). Empty maps/arrays normalize to None —
    * functionally identical through partitionValues/isDelete/eqCols
    * accessors. */
  private def ckptRowToEntry(r: Row): FileEntry = {
    val stats = Option(r.getAs[scala.collection.Map[String, Row]]("stats"))
      .map(_.map { case (n, s) => n -> ColStats(Option(s.getAs[String]("min")),
        Option(s.getAs[String]("max")), s.getAs[Long]("nulls")) }.toMap)
      .getOrElse(Map.empty[String, ColStats])
    val part = Option(r.getAs[scala.collection.Map[String, String]]("partition"))
      .map(_.toMap).filter(_.nonEmpty)
    val eq = Option(r.getAs[scala.collection.Seq[String]]("eqcols"))
      .map(_.toSeq).filter(_.nonEmpty)
    val content = r.getAs[Int]("content")
    // a pre-evolution checkpoint parquet has no specId column at all
    val spec = scala.util.Try(r.fieldIndex("specId")).toOption
      .filterNot(r.isNullAt).map(r.getInt)
    val firstRow = scala.util.Try(r.fieldIndex("firstRowId")).toOption
      .filterNot(r.isNullAt).map(r.getLong)
    FileEntry(r.getAs[String]("path"), r.getAs[Long]("sizeBytes"),
      r.getAs[Long]("records"), stats, part,
      if (content == 0) None else Some(content), eq, spec, firstRow)
  }

  /** Replay cache: one SQL query touches state() several times
    * (schema, stats, pushdown checks, the scan itself) and each replay
    * is O(files) JSON parsing — at a million files that IS the planning
    * cost. Key = (root, target, latest id, latest-commit size+mtime):
    * any new commit changes the key; the size+mtime component guards
    * against a table dropped and re-created at the same path with the
    * same commit count (same-id different content). Checkpoints and
    * snapshot expiry never change a surviving snapshot's replay
    * result, so they don't need to invalidate. */
  private val stateCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Long, Long), Snapshot]()

  /** A commit's off-main classification: (staged WAP?, branch-commit
    * (name, base-at-write)?). At most one is set — a commit is on
    * exactly one lineage. Memoized by the commit file's identity
    * (size + nanosecond mtime, the stateCache discipline) — every
    * default-target state() asks this about the head, and re-parsing
    * the head JSON per call would tax exactly the commit-heavy
    * lifecycles that are cheapest today. */
  private val kindMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Long),
    (java.lang.Boolean, Option[String], Option[(String, Long)])]()

  /** The raw memoized classification triple: (staged-at-write?, txn
    * decision path?, branch info?). The sweep and commitKind both
    * consume this, so the memo key is built in exactly one place. */
  private def commitKindRaw(root: String, id: Long):
      (java.lang.Boolean, Option[String], Option[(String, Long)]) = {
    val p = commitPath(root, id)
    val key = (root, id, Files.size(p),
      Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS))
    if (kindMemo.size > 4096) kindMemo.clear()   // bounded
    kindMemo.computeIfAbsent(key, { _ =>
      val c = readCommit(root, id)
      (Boolean.box(isStaged(c)), c.properties.get(txnDecisionProp), branchInfo(c))
    })
  }

  private def commitKind(root: String, id: Long): (Boolean, Option[(String, Long)]) = {
    val (s, txn, b) = commitKindRaw(root, id)
    // the staged bit of a TRANSACTION stage is time-varying (the
    // decision file lands after the commit file), so the memo stores
    // the decision PATH and the committed check runs per call — the
    // decision itself memoizes hard once present (it is immutable)
    (s.booleanValue() &&
      !txn.exists(p2 => decisionFor(root, p2).contains("committed")), b)
  }

  private[lake] def isStagedId(root: String, id: Long): Boolean =
    commitKind(root, id)._1

  /** (branch name, branch base) of the commit at `id`, when it is a
    * branch-lineage commit. */
  private[lake] def branchInfoOfId(root: String, id: Long): Option[(String, Long)] =
    commitKind(root, id)._2

  /** Off the main lineage: a staged (WAP) or branch commit. */
  private[lake] def isOffMainId(root: String, id: Long): Boolean = {
    val (s, b) = commitKind(root, id); s || b.isDefined
  }

  /** Table-relative decision-mirror paths of transactions that are
    * currently IN DOUBT on this machine: staged txn commits in the
    * off-main tail whose decision is locally unresolved. The fleet
    * sync's O(1) idle probe consults this so a decision that landed
    * remotely with NO new slot (a crashed seal) still syncs — a
    * targeted GET per in-doubt txn, usually zero, never a list page.
    * Cost: the same memoized off-main tail walk mainHeadId does. */
  private[lake] def inDoubtDecisionRels(root: String): Seq[String] = {
    // EVERY retained commit, not just the contiguous off-main tail:
    // the write path refuses main commits over a pending stage today,
    // but the sweep must stay correct for ANY lineage shape the log
    // can hold (WAP groups, branch tails, future relaxations) rather
    // than encode that guard twice. The scan is two stat calls per
    // retained slot on memo hits — retention bounds the log, so an
    // idle poll pays O(retained), locally, never remotely.
    listCommitIds(root).filter(_ > 0).flatMap { id =>
      commitKindRaw(root, id)._2
        .filter(path => decisionFor(root, path).isEmpty)
        .map(path => s"_graft_log/txn-${txnIdOfDecision(path)}.decision")
    }.distinct
  }

  /** The main lineage's head: the newest commit that is neither staged
    * nor a branch write. Commit 0 (create) can never be off-main, so
    * the walk terminates. */
  private def mainHeadId(root: String, ids: Seq[Long]): Long = {
    val sorted = ids.sorted
    var i = sorted.length - 1
    while (i > 0 && isOffMainId(root, sorted(i))) i -= 1
    sorted(i)
  }

  /** Replay the log (from the newest checkpoint ≤ asOf) to the state
    * at snapshot `asOf` (default: the main-lineage head — the newest
    * commit that is neither staged nor a branch write; a pending WAP
    * snapshot is invisible here and readable only by its explicit id).
    * A BRANCH-commit target resolves its whole branch lineage (main up
    * to the branch's base, then that branch's commits) — so time
    * travel to any branch snapshot serves the branch's state, not an
    * audit single-fold. */
  def state(root: String, asOf: Option[Long] = None): Snapshot = {
    val ids = listCommitIds(root)
    require(ids.nonEmpty, s"not a GraftTable (empty log): $root")
    val target = asOf.getOrElse(mainHeadId(root, ids))
    require(ids.contains(target),
      s"snapshot $target not in log (expired or never existed); have ${ids.min}..${ids.max}")
    val latest = commitPath(root, ids.max)
    // nanosecond mtime: a drop-and-recreate of a same-schema table can
    // produce a same-size commit 0 within the same MILLIsecond
    val key = (root, target, ids.max, Files.size(latest),
      Files.getLastModifiedTime(latest).to(java.util.concurrent.TimeUnit.NANOSECONDS))
    val cached = stateCache.get(key)
    if (cached != null) return cached
    val computed = replayState(root, ids, target)
    if (stateCache.size > 256) stateCache.clear()   // bounded, rebuild on demand
    stateCache.put(key, computed)
    computed
  }

  /** Adds of a pre-stamp manifest (statsVersion absent) have their
    * nulls==0 counts demoted to the −1 unknown sentinel at replay:
    * that code clamped unknown counts to 0, so a recorded zero cannot
    * be told apart from a never-computed one. Positive counts were
    * always real and stay trusted. Downstream pruning needs no
    * version awareness — it only ever sees normalized entries. */
  private def versionedAdds(c: Commit): Seq[FileEntry] = c.statsVersion match {
    case Some(v) if v == statsVersionCurrent => c.adds
    case Some(v) if v > statsVersionCurrent =>
      // a FUTURE stamp means different stats semantics this code does
      // not know; treating it as current could mis-prune silently —
      // the stamp exists precisely to make this loud
      throw new IllegalStateException(
        s"manifest for snapshot ${c.snapshotId} carries stats version $v " +
          s"but this code understands <= $statsVersionCurrent; upgrade graft " +
          "before reading this table")
    case _ =>   // pre-stamp (None) or an unknown older stamp: demote
      c.adds.map(f => f.copy(stats = f.stats.view.mapValues(s =>
        if (s.nulls == 0L) s.copy(nulls = -1L) else s).toMap))
  }

  /** The lineage a replay target selects, as an include-rule over
    * commits — THE one definition shared by replayState and the
    * checkpoint-tail replay so the two planes can never diverge:
    *  - main target (or staged audit target): on-main commits, plus
    *    the target itself when it is a staged (WAP) audit read;
    *  - branch target: on-main commits up to the branch's BASE (read
    *    off the target commit itself — historically stable across
    *    fast-forwards), then commits of the same branch EPOCH (same
    *    name AND same base: a fast-forward advances the base, so
    *    pre-publish branch commits belong to the retired epoch and a
    *    drop-and-recreate never resurrects a namesake's commits). */
  private[lake] case class Lineage(root: String, target: Long,
      branch: Option[(String, Long)]) {
    /** Newest checkpoint id usable as the replay seed: checkpoints
      * summarize MAIN lineage, so a branch replay may only seed from
      * one at or before the branch's base. */
    def ckptCeiling: Long = branch.map(_._2).getOrElse(target)
    def includes(c: Commit): Boolean = branch match {
      case None =>
        !effectiveStaged(root, c) && branchInfo(c).isEmpty || c.snapshotId == target
      case Some((name, base)) =>
        (c.snapshotId <= base && !effectiveStaged(root, c) && branchInfo(c).isEmpty) ||
          (branchInfo(c).contains((name, base)) && c.snapshotId <= target)
    }
  }

  private[lake] def lineageOf(root: String, target: Long): Lineage =
    Lineage(root, target, branchInfoOfId(root, target))

  /** The table header a lineage carries forward, folded commit by
    * commit — THE one rule shared by replayState and ckptTail:
    *  - properties: a REPLACE commit carries the table's COMPLETE new
    *    config, so they reset wholesale (the old partition spec,
    *    dropped-col tombstones etc. must not merge through); any other
    *    commit layers its properties on top
    *  - per-commit lineage markers (staged, WAP id, txn decision,
    *    branch name/base) describe the commit itself, never the table:
    *    they stay out of the header, so a committed transaction or a
    *    publish cannot leave main reporting itself staged. Readers ask
    *    the commit (isStaged, branchInfo); table-level memos such as
    *    `graft.wap.published.<id>` still layer.
    *  - schema: the last one declared. */
  private case class Header(props: Map[String, String], schemaJson: Option[String]) {
    def fold(c: Commit): Header = {
      val own = c.properties -- commitMarkerProps
      Header(if (c.operation == "replace") own else props ++ own,
        c.schemaJson.orElse(schemaJson))
    }
    /** Commit 0 and every checkpoint carry a schema, so only a corrupt
      * or hand-edited log ends a lineage without one. */
    def schema(root: String, target: Long): StructType = schemaJson match {
      case Some(j) => DataType.fromJson(j).asInstanceOf[StructType]
      case None => throw new IllegalStateException(
        s"snapshot $target at $root has no schema in its log lineage (corrupt or hand-edited log)")
    }
  }

  private lazy val commitMarkerProps: Set[String] =
    Set(wapStagedProp, wapIdProp, txnDecisionProp, branchNameProp, branchBaseProp)

  private def replayState(root: String, ids: Seq[Long], target: Long): Snapshot = {
    val lin = lineageOf(root, target)
    val ckpt = seedCheckpointIds(root).filter(_ <= lin.ckptCeiling).sorted.lastOption
    var files = Map.empty[String, FileEntry]
    var hdr = Header(Map.empty, None)
    var op = ""
    var ts = 0L
    ckpt.foreach { k =>
      val c = checkpointCommit(root, k)
      files = versionedAdds(c).map(f => f.path -> f).toMap
      // checkpoints written before the marker rule may carry markers
      hdr = Header(c.properties -- commitMarkerProps, c.schemaJson)
      op = c.operation; ts = c.timestampMs
    }
    val from = ckpt.map(_ + 1).getOrElse(ids.min)
    ids.filter(id => id >= from && id <= target).foreach { id =>
      val c = readCommit(root, id)
      // an OFF-MAIN (staged WAP or branch) commit is in the log but
      // not in the main lineage: a staged commit's effects apply only
      // when it is itself the replay target (the audit read); a
      // branch commit's apply only under its branch's lineage rule
      if (lin.includes(c)) {
        files = files -- c.removes
        files = files ++ versionedAdds(c).map(f => f.path -> f)
        hdr = hdr.fold(c); op = c.operation; ts = c.timestampMs
      }
    }
    Snapshot(target, ts, op, files.values.toSeq.sortBy(_.path), hdr.props,
      hdr.schema(root, target))
  }

  def latestSnapshotId(root: String): Long = listCommitIds(root).max

  // ── create / write ──────────────────────────────────────────────────

  /** Create an empty table (commit 0 carries schema + properties).
    * Mirrors CREATE TABLE ... TBLPROPERTIES (reference:
    * SPARK_ICEBERG_GUIDE.md §4). */
  def create(spark: SparkSession, root: String, schema: StructType,
      properties: Map[String, String] = Map.empty): Unit = {
    Files.createDirectories(logDir(root))
    Files.createDirectories(dataDir(root))
    require(listCommitIds(root).isEmpty, s"table already exists at $root")
    // _gp_* stage the partitioned write's derived columns; _gf* carry
    // MoR row identity through reads — user columns must not collide
    schema.fieldNames.filter(n => n.startsWith("_gp_") || n.startsWith("_gf")).foreach(n =>
      throw new IllegalArgumentException(s"column name '$n' uses a reserved graft prefix"))
    schema.fields.foreach(validateFieldDefaults)
    val c = Commit(0L, None, System.currentTimeMillis(), "create",
      Seq.empty, Seq.empty, properties, Some(schema.json))
    writeAtomic(commitPath(root, 0L), toJson(c))
  }

  private val statsTypes: Set[DataType] =
    Set(IntegerType, LongType, DoubleType, FloatType, StringType, DateType,
      TimestampType, TimestampNTZType)

  /** Per-file records + column min/max/nulls, read from the parquet
    * FOOTERS the write already produced — O(files) metadata, never a
    * second pass over the rows (the Delta/Iceberg stats design). The
    * reads run on a few driver threads, never as a Spark job: a footer
    * is a few KB, and a job would add its scheduling cost and split the
    * write's one SQL execution. Stats string forms: integers/floats as
    * decimal text, dates ISO, timestamps as epoch-micros text, strings
    * raw (parquet's truncated min/max are still valid bounds).
    */
  private def footerStats(spark: SparkSession, paths: Seq[String],
      extraConf: Seq[(String, String)] = Nil): Seq[(String, Long, Map[String, ColStats])] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val conf = spark.sessionState.newHadoopConf()
    // direct-write staging: the grafts3 scheme + client conf so footer
    // reads resolve the store
    extraConf.foreach { case (k, v) => conf.set(k, v) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(paths.size.max(1).min(8))
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      Await.result(Future.traverse(paths)(p => Future(readFooter(p, conf))), Duration.Inf)
    } finally pool.shutdown()
  }

  /** A parquet file's own schema, off its footer: the Spark schema its
    * writer recorded, else the converted parquet schema — what Spark's
    * schema inference would derive, without an inference job. */
  private def parquetSchema(spark: SparkSession, p: String): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
      ParquetToSparkSchemaConverter}
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), spark.sessionState.newHadoopConf()))
    try {
      val meta = reader.getFileMetaData
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(meta.getSchema))
    } finally reader.close()
  }

  private def readFooter(p: String,
      conf: org.apache.hadoop.conf.Configuration): (String, Long, Map[String, ColStats]) = {
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import org.apache.parquet.schema.LogicalTypeAnnotation
        import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val records = blocks.map(_.getRowCount).sum
          // merge row-group stats per top-level column. A chunk
          // WITHOUT stats poisons the column: bounds from the other
          // chunks don't cover its values (pruning on them would be
          // unsound), and its null count is unknown — parquet-mr
          // drops a chunk's statistics wholesale when a bound
          // exceeds the max stats size, and renders an unset null
          // count as -1, so "absent" must stay distinguishable from
          // "zero" all the way into the manifest.
          val merged = scala.collection.mutable.Map.empty[String, (Option[String], Option[String], Long)]
          val boundsPoisoned = scala.collection.mutable.Set.empty[String]
          val nullsPoisoned = scala.collection.mutable.Set.empty[String]
          blocks.flatMap(_.getColumns.asScala).foreach { cc =>
            if (cc.getPath.size == 1) {
              val name = cc.getPath.toDotString
              val st = cc.getStatistics
              if (st == null) { boundsPoisoned += name; nullsPoisoned += name }
              else {
                val prim = cc.getPrimitiveType
                val logical = prim.getLogicalTypeAnnotation
                def render(v: AnyRef): Option[String] = (prim.getPrimitiveTypeName, logical) match {
                  case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) =>
                    Some(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue()).toString)
                  case (PrimitiveTypeName.INT64, t: TimestampLogicalTypeAnnotation) =>
                    val n = v.asInstanceOf[Number].longValue()
                    val micros = t.getUnit match {
                      case LogicalTypeAnnotation.TimeUnit.MILLIS => n * 1000L
                      case LogicalTypeAnnotation.TimeUnit.NANOS => n / 1000L
                      case _ => n
                    }
                    Some(micros.toString)
                  case (PrimitiveTypeName.BINARY, _) =>
                    Some(new String(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes, "UTF-8"))
                  case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 |
                        PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE, _) =>
                    Some(v.toString)
                  case _ => None  // INT96 etc: no usable stats
                }
                val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
                val (mn, mx) =
                  if (st.hasNonNullValue)
                    (render(st.genericGetMin().asInstanceOf[AnyRef]),
                     render(st.genericGetMax().asInstanceOf[AnyRef]))
                  else (None, None)
                // a chunk with non-null values but NO bounds (size-
                // truncated stats): bounds can't speak for it
                if (!st.hasNonNullValue && nulls != cc.getValueCount)
                  boundsPoisoned += name
                if (nulls < 0) nullsPoisoned += name
                val isBinary = prim.getPrimitiveTypeName == PrimitiveTypeName.BINARY
                val prev = merged.get(name)
                merged(name) = prev match {
                  case None => (mn, mx, math.max(0L, nulls))
                  case Some((pmn, pmx, pn)) =>
                    (mergeBound(pmn, mn, takeMin = true, isBinary),
                     mergeBound(pmx, mx, takeMin = false, isBinary),
                     pn + math.max(0L, nulls))
                }
              }
            }
          }
          (p, records, merged.toMap.map { case (k, (mn, mx, n)) =>
            k -> ColStats(
              if (boundsPoisoned(k)) None else mn,
              if (boundsPoisoned(k)) None else mx,
              if (nullsPoisoned(k)) -1L else n)
          })
        } finally reader.close()
  }

  /** Merge two rendered row-group bounds under the SAME comparator
    * cmp() later prunes with: binary (string) columns merge in UTF-8
    * byte order, everything else numerically — a numeric-looking
    * STRING like "9"/"10" must NOT merge numerically or the stored
    * bound would be invalid under the pruning order. */
  private def mergeBound(a: Option[String], b: Option[String], takeMin: Boolean,
      isBinary: Boolean): Option[String] =
    (a, b) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(x), Some(y)) =>
        val cmpv =
          if (isBinary) utf8Cmp(x, y)
          else scala.util.Try(java.lang.Double.compare(x.toDouble, y.toDouble)).toOption
            .getOrElse(utf8Cmp(x, y))   // ISO dates: lexicographic == chronological
        Some(if ((cmpv <= 0) == takeMin) x else y)
    }

  /** Micros timestamps so footers carry usable timestamp stats (INT96,
    * the legacy option, writes no valid min/max). Reference-counted
    * per session: concurrent writers share one pin and the conf is
    * restored only when the last writer exits — a naive set/restore
    * would let one writer's restore race another's write (INT96 files
    * with no stats) or leak the pinned value after both return. */
  private val tsPins =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (java.util.concurrent.atomic.AtomicInteger, Option[String])]()

  private[graft] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    tsPins.synchronized {
      val (count, _) = tsPins.computeIfAbsent(spark,
        s => (new java.util.concurrent.atomic.AtomicInteger(0), s.conf.getOption(tsKey)))
      if (count.getAndIncrement() == 0) spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    }
    try body
    finally tsPins.synchronized {
      val (count, prev) = tsPins.get(spark)
      if (count.decrementAndGet() == 0) {
        prev match {
          case Some(v) => spark.conf.set(tsKey, v)
          case None => spark.conf.unset(tsKey)
        }
        tsPins.remove(spark)
      }
    }
  }

  /** Iceberg's `write.parquet.bloom-filter-enabled.column.<col>=true`
    * → the parquet writer's per-column bloom option. Blooms serve the
    * case stats cannot: point lookups on a column the file layout is
    * NOT clustered on (min/max spans everything, but the row-group
    * bloom answers "definitely absent" before any page reads — at
    * 100 TB that is most of an id-probe's bill). Spark's reader uses
    * them automatically for pushed `=` filters. */
  private def bloomOptions(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith("write.parquet.bloom-filter-enabled.column.") =>
        s"parquet.bloom.filter.enabled#${
          k.stripPrefix("write.parquet.bloom-filter-enabled.column.")}" -> v
    }

  /** One write op's staging plane — a local `.stage-*` dir (default)
    * or the store's direct-to-store remote stage — factored
    * so writeDataFiles and the delete-file writers share one
    * write→harvest→publish→cleanup shape regardless of where the
    * bytes land. */
  private sealed trait Staging {
    /** Where the Spark write job targets. */
    def target: String
    /** DataFrameWriter options the write job needs (remote: fs impl +
      * client conf + committer algorithm; local: [[GraftLocalFs]]'s
      * uncached raw FS, no `_SUCCESS` marker). */
    def writerOptions: Map[String, String]
    /** Staged parquet parts after the job: (stage-relative path with
      * '/' separators, size). */
    def parts(): Seq[(String, Long)]
    /** Absolute path/URI of one staged part (footer reads). */
    def uriOf(rel: String): String
    /** Hadoop conf footer reads of staged parts resolve through. */
    def footerConf(spark: SparkSession): org.apache.hadoop.conf.Configuration = {
      val c = spark.sessionState.newHadoopConf()
      writerOptions.foreach { case (k, v) => c.set(k, v) }
      c
    }
    /** Publish one part at its final table-relative path; returns the
      * final size. */
    def publish(rel: String, tableRel: String): Long
    /** Drop one staged part (an empty split). */
    def dropStaged(rel: String): Unit
    /** Drop the whole stage (markers, leftovers, aborts). */
    def close(): Unit
  }

  private final class LocalStaging(root: String, tmp: Path) extends Staging {
    def target: String = tmp.toString
    def writerOptions: Map[String, String] = GraftLocalFs.writerOptions
    def parts(): Seq[(String, Long)] = {
      // recursive walk: partitioned writes nest under _gp_0=v0/…
      def walk(dir: Path): Seq[Path] = listDir(dir).flatMap { p =>
        if (Files.isDirectory(p)) walk(p)
        else if (p.getFileName.toString.endsWith(".parquet")) Seq(p) else Seq.empty
      }
      walk(tmp).map(p => (tmp.relativize(p).toString
        .replace(java.io.File.separatorChar, '/'), Files.size(p)))
    }
    def uriOf(rel: String): String = tmp.resolve(rel).toString
    def publish(rel: String, tableRel: String): Long = {
      val dst = Paths.get(root).resolve(tableRel)
      Files.createDirectories(dst.getParent)
      // stat the STAGED file (identical bytes): once placed, a bounded
      // mount's intra-op backpressure may evict dst the moment its
      // upload confirms — a post-place stat would race that eviction
      val size = Files.size(tmp.resolve(rel))
      LakeStore.at(dst).place(tmp.resolve(rel), dst)
      size
    }
    def dropStaged(rel: String): Unit = Files.deleteIfExists(tmp.resolve(rel))
    // clean the stage dir (partition dirs, an aborted job's leftovers)
    def close(): Unit = deleteTree(tmp)
  }

  private final class RemoteStaging(rs: LakeStore.RemoteStage) extends Staging {
    private val uri = rs.newStageUri()
    private val sizes = scala.collection.mutable.Map.empty[String, Long]
    def target: String = uri
    def writerOptions: Map[String, String] = rs.conf.toMap
    def parts(): Seq[(String, Long)] = {
      val ps = rs.listStage(uri).filter(_._1.endsWith(".parquet"))
      sizes ++= ps
      ps
    }
    def uriOf(rel: String): String = rs.stagedUri(uri, rel)
    // server-side copy preserves bytes, so the staged size IS the
    // final size — no post-publish stat round-trip
    def publish(rel: String, tableRel: String): Long = {
      rs.finalizeTo(uri, rel, tableRel)
      sizes(rel)
    }
    def dropStaged(rel: String): Unit = rs.dropStaged(uri, rel)
    def close(): Unit = rs.discard(uri)
  }

  private def newStaging(root: String): Staging = {
    val p = rootPath(root)
    LakeStore.at(p).remoteStage(p) match {
      case Some(rs) => new RemoteStaging(rs)
      case None => new LocalStaging(root, Paths.get(root, s".stage-${UUID.randomUUID()}"))
    }
  }

  /** Write df's rows as new data files and return their entries with
    * per-file min/max stats harvested from the parquet footers.
    * Honors `write.parquet.compression-codec` (reference: Iceberg's
    * table property of the same name); default snappy. Bin-pack
    * compaction passes two extras:
    *  - `sourceOrder`: columns giving each row's source (file,
    *    position) order. They order rows within each task when the
    *    table declares no sort order, and are dropped before the write.
    *  - `binCol`: the V1 bin column ([[readBinsForRewrite]]), when a
    *    task may hold several whole bins. The bin is the outermost
    *    partition directory, so each bin is one file per tuple. */
  private def writeDataFiles(spark: SparkSession, root: String, df0: DataFrame,
      snapshotId: Long, props: Map[String, String],
      sourceOrder: Seq[String] = Nil, binCol: Option[String] = None): Seq[FileEntry] = {
    // every table-schema data write (append, CoW rewrite, merge,
    // compaction) funnels through here — CHECK constraints ride the
    // write's own row pass
    val df = enforceConstraints(df0, props)
    val codec = props.getOrElse("write.parquet.compression-codec", "snappy")
    val spec = tableSpec(props)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val staging = newStaging(root)
    try {
      // declared sort order: every write path (append, CoW rewrite,
      // merge, compaction) sorts rows within each task before the file
      // writer runs, so files come out key-clustered without the caller
      // opting in. Partitioned writes prefix the sort with the partition
      // tuple — the committer's own required ordering on partition
      // columns is then already satisfied and Spark inserts no second
      // sort that would undo this one.
      val sortCols = liveSortCols(df, props)
      val order = if (sortCols.isEmpty) sourceOrder.map(col) else sortCols
      // partitioned tables: derive one rendered string column per
      // transform, let Spark's partitioned committer split files by
      // tuple (the _gp_ columns live only in the directory names,
      // which we harvest below — row data keeps the source columns)
      val withParts = spec.zipWithIndex.foldLeft(df) { case (d, (t, i)) =>
        d.withColumn(s"_gp_$i", transformCol(t, types(t.col)))
      }
      val partCols = binCol.toSeq ++ spec.indices.map(i => s"_gp_$i")
      val sorted =
        if (order.isEmpty) withParts
        else withParts.sortWithinPartitions(partCols.map(col(_).asc) ++ order: _*)
      val writer = (if (sourceOrder.isEmpty) sorted else sorted.drop(sourceOrder: _*))
        .write.option("compression", codec).options(bloomOptions(props))
        .options(staging.writerOptions)
      withMicrosTimestamps(spark) {
        (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
          .parquet(staging.target)
      }
      // _gf_* (lineage) columns are physical plumbing, not query columns:
      // no manifest stats for them
      val statNames = df.schema.fields.filter(f => statsTypes.contains(f.dataType))
        .map(_.name).filterNot(_.startsWith("_gf_")).toSet
      val parts = staging.parts().sortBy(_._1)
      def tupleOf(rel: String): Option[Map[String, String]] =
        if (spec.isEmpty) None
        else Some {
          rel.split('/').dropRight(1).collect {
            case seg if seg.startsWith("_gp_") =>
              val Array(k, v) = seg.split("=", 2)
              val i = k.stripPrefix("_gp_").toInt
              spec(i).label -> unescapePath(v)
          }.toMap
        }
      val stats = footerStats(spark, parts.map(p => staging.uriOf(p._1)),
        staging.writerOptions.toSeq)
        .map { case (p, r, s) => p -> (r, s) }.toMap
      parts.zipWithIndex.flatMap { case ((rel, _), i) =>
        val (records, st) = stats(staging.uriOf(rel))
        if (records == 0L) { staging.dropStaged(rel); None }  // empty split: don't commit it
        else {
          val name = f"$snapshotId%010d-$i%05d-${UUID.randomUUID()}.parquet"
          val size = staging.publish(rel, s"data/$name")
          Some(FileEntry(s"data/$name", size, records,
            st.view.filterKeys(statNames).toMap, tupleOf(rel),
            // id 0 stays unstamped: identical meaning, and pre-evolution
            // manifests/checkpoints stay byte-compatible
            specId = Some(currentSpecId(props)).filter(_ != 0)))
        }
      }
    } finally staging.close()
  }

  /** Undo the hive-style escaping Spark applies to partition values in
    * directory names — the same catalyst helper Spark escaped with. */
  private def unescapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** `baseId` must be the snapshot the operation PLANNED against — the
    * commit id is base+1, so a concurrent commit landing in between
    * makes the put-if-absent fail loudly instead of silently committing
    * a stale-base result (a DELETE missing concurrently-appended rows
    * would otherwise slip through snapshot isolation). */
  private def commit(root: String, baseId: Long, op: String, adds: Seq[FileEntry],
      removes: Seq[String], props: Map[String, String] = Map.empty): Long = {
    val id = baseId + 1
    val c = Commit(id, Some(id - 1), System.currentTimeMillis(), op, adds, removes, props, None)
    writeAtomic(commitPath(root, id), toJson(c))
    id
  }

  private[graft] val nextRowIdProp = "graft.next-row-id"

  /** Row lineage allocation: every NOT-yet-stamped data file entering
    * main lineage gets a firstRowId block carved from the table's
    * `graft.next-row-id` counter (which merges forward through
    * property replay — a `replace` carries it inside its wholesale
    * property set because the stamp happens on the commit itself).
    * Already-stamped entries (rollback re-adds, rewrite outputs with
    * the -1 materialized marker, cherrypicked re-stamps) keep their
    * ids; the counter only ratchets past every explicit block so a
    * restored file can never collide with a future allocation. Staged
    * (WAP) commits allocate NOTHING — identity is assigned when rows
    * enter main lineage, so a parallel main-lineage commit between
    * stage and publish cannot collide. */
  private def stampRowLineage(c: Commit, baseProps: Map[String, String]): Commit = {
    val base = baseProps.get(nextRowIdProp).map(_.toLong).getOrElse(0L)
    var next = base
    val stamped = c.adds.map { f =>
      if (f.isData && f.firstRowId.isEmpty) {
        val s = f.copy(firstRowId = Some(next)); next += f.records; s
      } else f
    }
    val ceiling = stamped.filter(f => f.isData && f.firstRowId.exists(_ >= 0))
      .map(f => f.firstRowId.get + f.records).foldLeft(next)(math.max)
    c.copy(adds = stamped, properties = c.properties + (nextRowIdProp -> ceiling.toString))
  }

  /** Write the commit record for freshly-staged data files; if the
    * put-if-absent race is lost, delete those files before rethrowing —
    * they are referenced by no snapshot, and leaving them in `data/`
    * would surface phantom rows to `readStreamAppendOnly`'s directory
    * stream (and a retried append would then deliver the rows twice).
    * Only for commits whose adds were written by THIS operation —
    * rollback re-adds pre-existing files and must not delete them.
    *
    * Returns the snapshot id the commit LANDED at. Cross-lineage
    * occupants make the write slide to a later slot, so the planned id
    * and the landed id can differ — every caller that surfaces a
    * snapshot id (time travel, CDC bounds, procedure output) must
    * surface the LANDED one, or it would name a foreign commit. */
  /** Operations a concurrent-writer auto-retry is safe for (Iceberg's
    * `commit.retry` behavior): appends add files other writers never
    * reference; maintenance rewrites replace a specific victim file
    * set without changing row semantics. Everything row-semantic
    * (delete/update/merge/upsert/overwrite) planned against a stale
    * head stays a loud conflict — retrying those silently changes
    * WHICH rows the statement affects. */
  private val autoRetryOps: Set[String] = Set(
    "append", "add_files",
    "rewrite_data_files", "rewrite_data_files_sorted",
    "rewrite_data_files_zorder", "rewrite_position_deletes",
    "rewrite_equality_deletes", "rewrite_manifests")

  /** Default retry budget; a table overrides with Iceberg's own
    * `commit.retry.num-retries` property (0 disables auto-retry). */
  private val maxCommitRetries = 20

  private def commitRetryBudget(props: Map[String, String]): Int =
    props.get("commit.retry.num-retries")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(maxCommitRetries)

  /** A lost same-slot race against `occ` is transparently retryable
    * iff the occupant left this write's plan intact: no wholesale
    * state swap (replace/rollback), no schema change, no new CHECK
    * constraint this write's rows were never validated against, and
    * file-disjointness — the occupant retired none of the files this
    * commit retires (a shared victim means the rewrite's inputs are
    * gone: genuine conflict). Two sequence-rule hazards on top:
    *
    *  - an APPEND's data files are named with the PLANNED id; an
    *    occupant equality delete whose sequence (its file-name prefix)
    *    exceeds that planned id would wrongly cover the appended rows
    *    (the delete committed first, so the append's rows must
    *    survive it) — refuse those, accept deletes at or below the
    *    planned prefix (strict `<` admission already excludes them);
    *  - a REWRITE's output holds rows copied from its victims WITHOUT
    *    any concurrently-committed delete applied, and the output's
    *    younger name prefix can escape that delete's sequence scope —
    *    deleted rows would resurrect (Iceberg's rewrite-vs-delete
    *    conflict, validateNoNewDeleteFiles). Any delete-content add on
    *    the occupant fails a rewrite retry. */
  private def retryCompatible(mine: Commit, occ: Commit, plannedId: Long): Boolean = {
    val appendClass = mine.operation == "append" || mine.operation == "add_files"
    def deleteHazard: Boolean =
      if (appendClass)
        occ.adds.exists(f => f.content.contains(2) &&
          f.path.split('/').last.takeWhile(_.isDigit).toLong > plannedId)
      else occ.adds.exists(_.isDelete)
    autoRetryOps.contains(mine.operation) &&
      occ.operation != "replace" && occ.operation != "rollback" &&
      occ.schemaJson.isEmpty &&
      !occ.properties.exists { case (k, v) =>
        k.startsWith(constraintPropPrefix) && v.nonEmpty } &&
      occ.removes.toSet.intersect(mine.removes.toSet).isEmpty &&
      !deleteHazard
  }

  /** A same-lineage commit-slot race this write lost after cleanup —
    * the signal the snapshot-isolation DML wrapper re-plans on. */
  final class GraftCommitConflict(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

  /** Iceberg's `write.<op>.isolation-level`: under the default
    * `serializable` a row-level statement that lost a commit race
    * fails loud (the winner may have changed which rows the statement
    * affects — only the caller can decide that's fine); under
    * `snapshot` the WHOLE statement re-plans against the new head and
    * retries, behaving as if it started after the winner — the
    * Iceberg snapshot-isolation contract. The level is consulted only
    * on CONFLICT, so the uncontended path pays no extra log replay. */
  private def withDmlRetry[T](root: String, opKind: String)(op: => T): T = {
    var attempts = 0
    while (true) {
      try return op
      catch { case e: GraftCommitConflict =>
        val lvl = state(root).properties
          .getOrElse(s"write.$opKind.isolation-level", "serializable")
        attempts += 1
        if (lvl != "snapshot" || attempts > 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def commitOrCleanup(root: String, id: Long, c0: Commit): Long = {
    val offMain = isStaged(c0) || branchInfo(c0).isDefined
    // off-main: ids assigned at publish
    var c = if (offMain) c0 else stampRowLineage(c0, state(root, c0.parentId).properties)
    lazy val retryBudget =
      if (offMain) 0 else commitRetryBudget(state(root, c0.parentId).properties)
    var slot = id
    var retries = 0
    while (true) {
      try { writeAtomic(commitPath(root, slot), toJson(c.copy(snapshotId = slot))); return slot }
      catch { case e: IllegalStateException =>
        // Slot occupied. Commits on a DIFFERENT lineage than this one
        // (a branch commit under a main write, a main or other-branch
        // commit under a branch write) change nothing this write
        // planned against — SLIDE to the next slot, keeping parentId
        // (= the planning base; parent chains are already
        // non-contiguous, see cherrypick). A same-lineage MAIN
        // occupant is a lost optimistic-concurrency race: when both
        // sides are file-disjoint (two appends; an append under a
        // compaction) RETRY against the new head — reparent, restamp
        // row lineage from the occupant's counter — like Iceberg's
        // commit.retry. Genuine row conflicts stay loud; a pending
        // staged (WAP) snapshot keeps blocking MAIN writes by the WAP
        // discipline (publish or abandon first), but never blocks
        // branch writes.
        // Remote arbitration can surface a 412 BEFORE the winning
        // writer materializes its slot locally — classifying the
        // occupant from a missing file would downgrade a retryable
        // append-vs-append race into a spurious conflict. Wait briefly
        // for the winner's local write (a local createLink loss finds
        // it at once); past the bound, classification falls through to
        // the conservative throw exactly as before.
        var waited = 0
        while (!Files.exists(commitPath(root, slot)) && waited < 50) {
          Thread.sleep(10); waited += 1
        }
        val occStaged = scala.util.Try(isStagedId(root, slot)).getOrElse(false)
        val occBranch = scala.util.Try(branchInfoOfId(root, slot)).getOrElse(None)
        val mine = branchInfo(c)
        val slide = !isStaged(c) && (
          if (occStaged) mine.isDefined   // stage blocks MAIN writes, never a branch
          else occBranch != mine)         // any cross-lineage occupant: no shared state
        if (slide) { slot += 1 }
        else if (!offMain && !occStaged && occBranch.isEmpty &&
            retries < retryBudget &&
            scala.util.Try(readCommit(root, slot))
              .toOption.exists(retryCompatible(c0, _, id))) {
          retries += 1
          val parent = Some(slot)
          c = stampRowLineage(c0.copy(parentId = parent),
            state(root, parent).properties)
          slot += 1
        }
        else {
          c.adds.foreach { f =>
            val abs = Paths.get(root, f.path)
            Files.deleteIfExists(abs)
            LakeStore.at(abs).artifactDiscarded(abs)
          }
          if (occStaged) throw new IllegalStateException(
            s"snapshot $slot is a pending staged (WAP) commit: publish it with " +
              "CALL graft_system.cherrypick_snapshot or retire it with " +
              "abandon_staged_snapshot before writing to main", e)
          // typed so the snapshot-isolation DML wrapper can re-plan;
          // still an IllegalStateException for every existing catcher
          throw new GraftCommitConflict(
            s"commit slot $slot lost to a concurrent same-lineage commit", e)
        }
      }
    }
    slot // unreachable: the loop exits only via return or throw
  }

  /** ALTER TABLE ... SET TBLPROPERTIES (reference:
    * SPARK_ICEBERG_GUIDE.md §§8.2, 8.9): a properties-only commit. */
  def setProperties(root: String, props: Map[String, String]): Long =
    commit(root, latestSnapshotId(root), "set_properties", Seq.empty, Seq.empty, props)

  // ── CHECK constraints ───────────────────────────────────────────────

  private[graft] val constraintPropPrefix = "graft.constraint."

  /** Live CHECK constraints: (name, predicate SQL). A dropped
    * constraint leaves an empty-value tombstone — the commit model is
    * additive (properties are never removed; last write wins on
    * replay), the same convention the dropped-column tombstones use. */
  def checkConstraints(props: Map[String, String]): Seq[(String, String)] =
    props.toSeq
      .collect { case (k, v) if k.startsWith(constraintPropPrefix) && v.nonEmpty =>
        k.stripPrefix(constraintPropPrefix) -> v }
      .sortBy(_._1)

  /** ALTER TABLE … ADD CONSTRAINT name CHECK (sql). Validates every
    * live row first — SQL-standard semantics: a row violates only when
    * the predicate evaluates FALSE; UNKNOWN (null) passes — then
    * commits the constraint as a table property, after which every
    * write path re-checks rows inline. `validate = false` is for
    * callers that already validated (Spark's ADD CONSTRAINT exec scans
    * the table with CheckInvariant before it calls the catalog). */
  def addCheckConstraint(spark: SparkSession, root: String, name: String,
      predicateSql: String, validate: Boolean = true): Long = {
    require(name.nonEmpty && !name.contains("=") && !name.contains("\n"),
      s"bad constraint name: '$name'")
    val snap = state(root)
    require(!checkConstraints(snap.properties).exists(_._1.equalsIgnoreCase(name)),
      s"constraint $name already exists on $root")
    if (validate) {
      val bad = read(spark, root).filter(expr(predicateSql) <=> lit(false)).count()
      require(bad == 0L,
        s"cannot add CHECK constraint $name: $bad existing row(s) violate ($predicateSql)")
    }
    setProperties(root, Map(constraintPropPrefix + name -> predicateSql))
  }

  /** ALTER TABLE … DROP CONSTRAINT — an empty-value tombstone commit. */
  def dropCheckConstraint(root: String, name: String, ifExists: Boolean = false): Long = {
    val snap = state(root)
    val live = checkConstraints(snap.properties).find(_._1.equalsIgnoreCase(name))
    if (live.isEmpty) {
      require(ifExists, s"no such constraint: $name")
      snap.snapshotId
    } else setProperties(root, Map(constraintPropPrefix + live.get._1 -> ""))
  }

  /** Inline write-side enforcement: rides the write's own pass (no
    * extra scan); a violating row fails the job before any commit is
    * attempted. Fail only on FALSE — null results pass, matching both
    * the SQL standard and Spark's own CheckInvariant. */
  private def enforceConstraints(df: DataFrame, props: Map[String, String]): DataFrame =
    checkConstraints(props).foldLeft(df) { case (d, (n, sql)) =>
      d.filter(isnull(assert_true(!(expr(sql) <=> lit(false)),
        lit(s"graft CHECK constraint $n violated: ($sql) is false for a row being written"))))
    }

  /** Renaming/dropping a column out from under a CHECK constraint
    * would break every later write at analysis time — refuse, the way
    * Delta and Iceberg do. Reference detection is a conservative
    * word-boundary match on the predicate text (false positives err
    * on the safe side; drop the constraint first). */
  private def requireUnconstrained(props: Map[String, String], colName: String,
      op: String): Unit = {
    val p = java.util.regex.Pattern.compile(
      "(?i)\\b" + java.util.regex.Pattern.quote(colName) + "\\b")
    val hits = checkConstraints(props).filter { case (_, sql) => p.matcher(sql).find() }
    require(hits.isEmpty,
      s"cannot $op column '$colName': referenced by CHECK constraint(s) " +
        s"${hits.map(_._1).mkString(", ")} — drop the constraint(s) first")
  }

  // ── partition-spec evolution ────────────────────────────────────────

  /** One partition-spec term from DDL text: Iceberg's grammar accepts
    * a bare column (identity), singular time names (`day(ts)`), and
    * any case for the transform name — normalize all of those into
    * graft's canonical vocabulary before parsing. */
  private[lake] def parseSpecTerm(s: String): PTransform = {
    val t = s.trim
    if (!t.contains("(")) return PIdentity(t)
    val fnRe = """(?is)^\s*(\w+)\s*\((.*)\)\s*$""".r
    val norm = t match {
      case fnRe(fn, args) =>
        val f = fn.toLowerCase match {
          case "day" => "days"
          case "month" => "months"
          case "year" => "years"
          case "hour" => "hours"
          case other => other
        }
        s"$f(${args.trim})"
      case _ => t
    }
    parsePartitionSpec(norm) match {
      case Seq(one) => one
      case _ => throw new IllegalArgumentException(s"expected one partition term, got '$s'")
    }
  }

  /** Evolve-time validation, mirroring transformCol's write-time type
    * requirements so a bad field fails HERE, not at the first append.
    * Resolves the source column case-insensitively to its canonical
    * schema name (pruning matches transform sources exactly). */
  private def resolveSpecTerm(schema: StructType, t: PTransform): PTransform = {
    val f = schema.fields.find(_.name.equalsIgnoreCase(t.col)).getOrElse(
      throw new IllegalArgumentException(
        s"partition field ${renderTransform(t)}: no column '${t.col}' in schema"))
    def timeOk(needTs: Boolean): Unit = f.dataType match {
      case TimestampType | TimestampNTZType => ()
      case DateType if !needTs => ()
      case dt => throw new IllegalArgumentException(
        s"partition field ${renderTransform(t)} needs a ${if (needTs) "timestamp" else "date/timestamp"} column, got ${dt.simpleString}")
    }
    t match {
      case PDays(_) | PMonths(_) | PYears(_) => timeOk(needTs = false)
      case PHours(_) => timeOk(needTs = true)
      case PTruncate(_, w) => f.dataType match {
        case StringType | IntegerType | LongType => ()
        case dt => throw new IllegalArgumentException(
          s"truncate($w,${f.name}) needs string/int/long, got ${dt.simpleString}")
      }
      case _ => ()
    }
    t match {
      case PIdentity(_) => PIdentity(f.name)
      case PBucket(_, n) => PBucket(f.name, n)
      case PTruncate(_, w) => PTruncate(f.name, w)
      case PDays(_) => PDays(f.name)
      case PMonths(_) => PMonths(f.name)
      case PYears(_) => PYears(f.name)
      case PHours(_) => PHours(f.name)
    }
  }

  /** The spec-evolution commit shared by add/drop/replace: append the
    * new spec to the history, point `graft.partition-spec` at it.
    * Metadata-only — no data file is touched; old files keep pruning
    * under the spec that wrote them (per-file spec-id dispatch in
    * BOTH planners), new writes cluster and stamp under the new spec.
    * No generation bump: a pinned-schema stream reads rows
    * identically across the boundary (row semantics are unchanged —
    * only the physical layout of FUTURE files moves). This is
    * Iceberg's flagship "re-partition without rewriting" (reference:
    * spark-defaults.conf:11 loads IcebergSparkSessionExtensions,
    * whose ALTER TABLE grammar this mirrors). */
  private def evolveSpecTo(root: String,
      next: (Seq[PTransform], StructType) => Seq[PTransform]): Long = {
    val snap = state(root)
    val cur = tableSpec(snap.properties)
    val spec = next(cur, snap.schema)
    require(spec.map(_.label.toLowerCase).distinct.size == spec.size,
      s"duplicate partition transforms in '${renderSpec(spec)}'")
    val hist = specHistory(snap.properties).map(renderSpec) :+ renderSpec(spec)
    commit(root, snap.snapshotId, "evolve_spec", Seq.empty, Seq.empty,
      Map(specProp -> renderSpec(spec), specHistoryProp -> hist.mkString(";")))
  }

  /** ALTER TABLE t ADD PARTITION FIELD <transform>(c). */
  def addPartitionField(root: String, term: String): Long =
    evolveSpecTo(root, { (cur, schema) =>
      val t = resolveSpecTerm(schema, parseSpecTerm(term))
      require(!cur.exists(_.label.equalsIgnoreCase(t.label)),
        s"partition field ${t.label} already in spec '${renderSpec(cur)}'")
      cur :+ t
    })

  /** ALTER TABLE t DROP PARTITION FIELD <transform>(c) — also accepts
    * the field by label or bare source column. Dropping the last
    * field leaves the table unpartitioned going forward; the old
    * cohort still prunes on its recorded tuples. */
  def dropPartitionField(root: String, term: String): Long =
    evolveSpecTo(root, { (cur, _) =>
      val matches = cur.filter(specFieldMatches(term))
      require(matches.nonEmpty,
        s"no partition field matching '$term' in spec '${renderSpec(cur)}'")
      require(matches.size == 1,
        s"'$term' is ambiguous in spec '${renderSpec(cur)}': ${matches.map(_.label).mkString(", ")}")
      cur.filterNot(_ == matches.head)
    })

  /** ALTER TABLE t REPLACE PARTITION FIELD <old> WITH <new> — drop +
    * add in one commit, the new field taking the old one's position
    * (so `.partitions` tuples keep a stable column order). */
  def replacePartitionField(root: String, from: String, to: String): Long =
    evolveSpecTo(root, { (cur, schema) =>
      val matches = cur.filter(specFieldMatches(from))
      require(matches.nonEmpty,
        s"no partition field matching '$from' in spec '${renderSpec(cur)}'")
      require(matches.size == 1,
        s"'$from' is ambiguous in spec '${renderSpec(cur)}': ${matches.map(_.label).mkString(", ")}")
      val t = resolveSpecTerm(schema, parseSpecTerm(to))
      require(!cur.filterNot(_ == matches.head).exists(_.label.equalsIgnoreCase(t.label)),
        s"partition field ${t.label} already in spec '${renderSpec(cur)}'")
      cur.map(x => if (x == matches.head) t else x)
    })

  /** DROP/REPLACE field matching: the full transform term
    * (`days(ts)`), the rendered label (`ts_day`), or — uniquely —
    * the bare source column. */
  private def specFieldMatches(term: String)(t: PTransform): Boolean = {
    val s = term.trim
    if (s.contains("("))
      scala.util.Try(parseSpecTerm(s)).toOption.exists(p =>
        renderTransform(p).equalsIgnoreCase(renderTransform(t)))
    else t.label.equalsIgnoreCase(s) || t.col.equalsIgnoreCase(s)
  }

  /** ALTER TABLE ... ADD COLUMN — metadata-only schema evolution: a
    * commit carrying the widened schema. Existing data files are
    * untouched; reads pass the explicit current schema, so parquet
    * fills the missing column with nulls (the Iceberg/Delta add-column
    * semantics, no rewrite). */
  def addColumn(root: String, field: StructField): Long = {
    val snap = state(root)
    val cur = snap.schema
    // case-insensitive like the rename/drop guards: Spark resolves
    // column names case-insensitively by default, so ADD COLUMN 'TEXT'
    // alongside a live 'text' would pass a case-sensitive check here
    // yet make every subsequent read ambiguous
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(field.name)),
      s"column exists: ${field.name}")
    require(field.nullable, "added columns must be nullable (old files have no values)")
    // a name that is still a live PHYSICAL column in old files (a
    // historical name of a renamed column, or a dropped column) would
    // make mixed scans ambiguous — Iceberg disambiguates by field id;
    // here the honest answer is to refuse until a full rewrite retires
    // the old physical name
    requireFreshPhysicalName(snap, cur, field.name)
    validateFieldDefaults(field)
    val id = snap.snapshotId + 1   // planned against snap: conflicts fail loudly
    val c = Commit(id, Some(id - 1), System.currentTimeMillis(), "add_column",
      Seq.empty, Seq.empty, Map.empty, Some(cur.add(field).json))
    writeAtomic(commitPath(root, id), toJson(c))
    id
  }

  /** Rename/drop/widen change what a pinned-schema stream reads from
    * files written AFTER them (missing physical names → silent nulls;
    * widened types → runtime parquet errors at best): bump the stream
    * generation in the SAME commit, marker first (mirroring
    * replaceFrom), healing the marker back to the committed counter
    * if the commit loses its race. addColumn stays bump-free — a
    * pinned old schema never requests the new column, so every row a
    * live stream delivers across it is still exactly correct. */
  private def commitEvolution(root: String, snap: Snapshot, op: String,
      props: Map[String, String], schemaJson: String): Long = {
    val id = snap.snapshotId + 1   // planned against snap: conflicts fail loudly
    val newGen = nextGeneration(root, snap.properties)
    writeGeneration(root, newGen)
    val c = Commit(id, Some(id - 1), System.currentTimeMillis(), op,
      Seq.empty, Seq.empty, props + (generationProp -> newGen.toString),
      Some(schemaJson))
    try writeAtomic(commitPath(root, id), toJson(c))
    catch { case e: Throwable =>
      scala.util.Try(writeGeneration(root, committedGeneration(state(root).properties)))
      throw e
    }
    id
  }

  // ── rename / drop column (metadata-only schema evolution) ───────────
  // A renamed column keeps its historical physical names in the
  // field's metadata (`graft.prev-names`) INSIDE the per-snapshot
  // schemaJson — the mapping travels with the snapshot, so a
  // time-travel read between two renames resolves exactly the names
  // that were physical when its files were written (the same design
  // point as Delta's column-mapping metadata / Iceberg's field ids,
  // expressed over names because parquet files are addressed by name
  // here). Reads request old+new physical columns and COALESCE them:
  // each file physically contains exactly one of the names, so the
  // projection is exact. Dropped columns tombstone their physical
  // names in a table property so they cannot be re-added ambiguously.

  private[lake] val prevNamesKey = "graft.prev-names"
  private[lake] val droppedColsProp = "graft.dropped-columns"

  /** Stamped on a field widened float→double: pre-widen files rendered
    * their footer stats via Float.toString, so double-typed pruning
    * must treat this column's stat text conservatively (see mayMatch). */
  private[lake] val wasFloatKey = "graft.was-float"

  private[lake] def prevNames(f: StructField): Seq[String] =
    if (f.metadata.contains(prevNamesKey))
      f.metadata.getStringArray(prevNamesKey).toSeq
    else Seq.empty

  private def droppedCols(props: Map[String, String]): Seq[String] =
    props.get(droppedColsProp).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  // ── default column values (the Iceberg v3 initial/write defaults) ──
  // Stored under Spark's OWN resolver metadata keys, which makes both
  // halves of the feature fall out of machinery that already exists:
  //   EXISTS_DEFAULT  (initial-default) — Spark's parquet readers fill
  //     a requested column that is PHYSICALLY ABSENT from a file with
  //     this frozen literal, per file. A file written before the ADD
  //     COLUMN lacks the column → every row reads the default; a file
  //     written after carries it → explicit NULLs stay NULL. That is
  //     exactly Iceberg's initial-default read rule, with the file's
  //     own schema as the sequence discriminator — no per-file joins.
  //   CURRENT_DEFAULT (write-default) — Spark's analyzer fills omitted
  //     columns in SQL INSERTs from this key; graft's own append paths
  //     materialize it via fillWriteDefaults, so data files always
  //     physically carry defaulted columns and a later SET DEFAULT
  //     never rewrites history.
  private[lake] val existsDefaultKey = "EXISTS_DEFAULT"
  private[lake] val currentDefaultKey = "CURRENT_DEFAULT"

  private[lake] def existsDefault(f: StructField): Option[String] =
    if (f.metadata.contains(existsDefaultKey))
      Some(f.metadata.getString(existsDefaultKey)) else None

  private[lake] def currentDefault(f: StructField): Option[String] =
    if (f.metadata.contains(currentDefaultKey))
      Some(f.metadata.getString(currentDefaultKey)) else None

  /** A default must be a literal the column's type can hold: parse,
    * fold, cast — loudly, at DDL time, never at read time. */
  private def validateDefault(name: String, dt: DataType, sql: String): Unit = {
    val e = scala.util.Try(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql))
      .getOrElse(throw new IllegalArgumentException(
        s"default for '$name' does not parse: $sql"))
    require(e.foldable, s"default for '$name' must be a constant expression: $sql")
    scala.util.Try(org.apache.spark.sql.catalyst.expressions.Cast(
      e, dt, Some("UTC")).eval()).getOrElse(
      throw new IllegalArgumentException(
        s"default for '$name' does not fit ${dt.simpleString}: $sql"))
  }

  private def validateFieldDefaults(f: StructField): Unit = {
    existsDefault(f).foreach(validateDefault(f.name, f.dataType, _))
    currentDefault(f).foreach(validateDefault(f.name, f.dataType, _))
  }

  /** Materialize write-defaults for columns the incoming frame OMITS,
    * so every data file physically carries its defaulted columns and
    * EXISTS_DEFAULT only ever serves files that predate the column.
    * A column with an initial default but NO current one (DROP
    * DEFAULT) must materialize explicit NULLs for the same reason —
    * leaving it out of the file would read back as the initial
    * default. Columns with no defaults at all stay omitted — reads
    * null-fill them, same as before. */
  private def fillWriteDefaults(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
      else currentDefault(f) match {
        case Some(sql) => d.withColumn(f.name, expr(sql).cast(f.dataType))
        case None if existsDefault(f).isDefined =>
          d.withColumn(f.name, lit(null).cast(f.dataType))
        case None => d
      }
    }

  /** ALTER TABLE ... ALTER COLUMN SET/DROP DEFAULT — updates the
    * WRITE default only. The initial default (EXISTS_DEFAULT) is
    * frozen at ADD COLUMN time, like Iceberg's initial-default: rows
    * that predate the column must read the same value forever. */
  def setColumnDefault(root: String, name: String, default: Option[String]): Long = {
    val snap = state(root)
    val cur = snap.schema
    val idx = cur.fields.indexWhere(_.name.equalsIgnoreCase(name))
    require(idx >= 0, s"no such column: $name")
    val f = cur.fields(idx)
    default.foreach(validateDefault(f.name, f.dataType, _))
    val mb = new MetadataBuilder().withMetadata(f.metadata)
    default match {
      case Some(sql) => mb.putString(currentDefaultKey, sql)
      case None => mb.remove(currentDefaultKey)
    }
    val ns = StructType(cur.fields.updated(idx,
      StructField(f.name, f.dataType, f.nullable, mb.build())))
    // bump-free like addColumn (no commitEvolution): a pinned-schema
    // stream never sees write-defaults — appended files carry every
    // schema column physically — so killing live streams here would
    // be pure collateral
    val id = snap.snapshotId + 1
    val c = Commit(id, Some(id - 1), System.currentTimeMillis(), "set_default",
      Seq.empty, Seq.empty, Map.empty, Some(ns.json))
    writeAtomic(commitPath(root, id), toJson(c))
    id
  }

  /** Rename/drop preconditions shared with addColumn: the name must
    * not collide with any live logical name, any historical physical
    * name, or a dropped column's tombstone. */
  private def requireFreshPhysicalName(snap: Snapshot, cur: StructType,
      name: String): Unit = {
    require(!cur.fields.exists(g => prevNames(g).exists(_.equalsIgnoreCase(name))),
      s"column name '$name' is a historical name of a renamed column; " +
        "rewrite data files before reusing it")
    require(!droppedCols(snap.properties).exists(_.equalsIgnoreCase(name)),
      s"column name '$name' belonged to a dropped column; " +
        "rewrite data files before reusing it")
  }

  /** Columns the table's physical layout or delete files key on
    * cannot be renamed/dropped without a rewrite. */
  private def requireEvolvable(snap: Snapshot, colName: String, what: String): Unit = {
    val specCols = tableSpec(snap.properties).map(_.col)
    require(!specCols.exists(_.equalsIgnoreCase(colName)),
      s"cannot $what '$colName': it is a partition-spec source column")
    val legacy = snap.properties.get("graft.partition-columns").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    require(!legacy.exists(_.equalsIgnoreCase(colName)),
      s"cannot $what '$colName': it is a declared clustering column")
    val eqKeys = snap.files.filter(f => f.isDelete && f.content.contains(2))
      .flatMap(_.eqCols.getOrElse(Seq.empty))
    require(!eqKeys.exists(_.equalsIgnoreCase(colName)),
      s"cannot $what '$colName': live equality-delete files key on it " +
        "(run rewrite_equality_deletes first)")
  }

  /** ALTER TABLE ... RENAME COLUMN — metadata-only: a commit whose
    * schema carries the new name plus the old one in `graft.prev-names`.
    * No data file is touched; reads coalesce over old+new physical
    * columns; time travel before this commit sees the old schema. */
  def renameColumn(root: String, from: String, to: String): Long = {
    val snap = state(root)
    val cur = snap.schema
    val idx = cur.fields.indexWhere(_.name.equalsIgnoreCase(from))
    require(idx >= 0, s"no such column: $from")
    require(!cur.fields.exists(_.name.equalsIgnoreCase(to)), s"column exists: $to")
    require(!to.startsWith("_gp_") && !to.startsWith("_gf"),
      s"column name '$to' uses a reserved graft prefix")
    requireFreshPhysicalName(snap, cur, to)
    val f = cur.fields(idx)
    requireEvolvable(snap, f.name, "rename")
    requireUnconstrained(snap.properties, f.name, "rename")
    // a renamed defaulted column would request the NEW name from old
    // files — absent there, so the reader fills the default, and the
    // rename coalesce would take it over the real values sitting under
    // the old physical name. Refuse, same philosophy as
    // requireFreshPhysicalName: honest until a rewrite materializes.
    require(existsDefault(f).isEmpty,
      s"cannot rename '$from': it carries an initial default " +
        "(a full rewrite_data_files materializes it and re-opens rename)")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putStringArray(prevNamesKey, (prevNames(f) :+ f.name).toArray)
      .build()
    val ns = StructType(cur.fields.updated(idx, StructField(to, f.dataType, f.nullable, md)))
    commitEvolution(root, snap, "rename_column", Map.empty, ns.json)
  }

  /** ALTER TABLE ... DROP COLUMN — metadata-only: the column leaves
    * the schema (reads stop requesting it; old files keep the bytes
    * until a rewrite), and its physical names are tombstoned so a
    * future ADD COLUMN cannot silently resurrect old values. */
  def dropColumn(root: String, name: String): Long = {
    val snap = state(root)
    val cur = snap.schema
    val idx = cur.fields.indexWhere(_.name.equalsIgnoreCase(name))
    require(idx >= 0, s"no such column: $name")
    require(cur.fields.length > 1, "cannot drop the last column")
    val f = cur.fields(idx)
    requireEvolvable(snap, f.name, "drop")
    requireUnconstrained(snap.properties, f.name, "drop")
    val tomb = (droppedCols(snap.properties) ++ (f.name +: prevNames(f))).distinct
    val ns = StructType(cur.fields.patch(idx, Nil, 1))
    commitEvolution(root, snap, "drop_column",
      Map(droppedColsProp -> tomb.mkString(",")), ns.json)
  }

  /** ALTER TABLE ... ALTER COLUMN c TYPE t — metadata-only type
    * WIDENING (the Iceberg evolution rule: int→long, float→double,
    * decimal precision growth at the same scale). No data file is
    * touched: reads request the widened type and Spark 4's parquet
    * readers up-convert the narrower physical values. int→long and
    * decimal footer-stats text compares identically under both widths;
    * float→double does NOT ((double)0.1f ≠ "0.1".toDouble), so the
    * field is stamped `graft.was-float` and both pruning planners
    * compare its stat text conservatively under BOTH renderings
    * (mayMatch/predCond). Time travel before this commit returns the
    * historical narrow type. Narrowing (or any other change) refuses —
    * old files could hold values the narrow type cannot represent. */
  def widenColumn(root: String, name: String, to: DataType): Long = {
    val snap = state(root)
    val cur = snap.schema
    val idx = cur.fields.indexWhere(_.name.equalsIgnoreCase(name))
    require(idx >= 0, s"no such column: $name")
    val f = cur.fields(idx)
    require(widens(f.dataType, to),
      s"cannot alter '${f.name}' ${f.dataType.simpleString} -> ${to.simpleString}: " +
        "only widening conversions are supported " +
        "(int->bigint, float->double, decimal(p,s)->decimal(p+,s))")
    val floatToDouble = f.dataType == FloatType && to == DoubleType
    if (floatToDouble) {
      // partition directory values were rendered as float text; the
      // partition-tuple pruners compare that text exactly (no
      // conservative path), so widening a layout-driving float column
      // would silently mis-prune — refuse until a rewrite. ALL specs
      // in the history count: per-file dispatch prunes the old cohort
      // under its old spec, whose tuples are float-rendered too.
      val layout = specHistory(snap.properties).flatten.map(_.col) ++
        snap.properties.get("graft.partition-columns").toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      require(!layout.exists(_.equalsIgnoreCase(f.name)),
        s"cannot widen '${f.name}' float->double: it drives the partition " +
          "layout (directory values are float-rendered text); rewrite first")
    }
    val nf =
      if (floatToDouble)
        f.copy(dataType = to, metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putBoolean(wasFloatKey, true).build())
      else f.copy(dataType = to)
    val ns = StructType(cur.fields.updated(idx, nf))
    commitEvolution(root, snap, "widen_column", Map.empty, ns.json)
  }

  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (a: DecimalType, b: DecimalType) =>
      b.precision > a.precision && b.scale == a.scale
    case _ => false
  }

  /** Cluster rows before writing per the table's write properties
    * (reference: SPARK_ICEBERG_GUIDE.md §8.9 'write.distribution-mode'):
    * hash/range distribution on `graft.partition-columns` packs each
    * partition value into few files, so the per-file min/max stats act
    * as partition pruning — at 100 TB this is what keeps a
    * one-partition query from listing the whole table. */
  private def distribute(df: DataFrame, props: Map[String, String]): DataFrame = {
    val spec = tableSpec(props)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // a declared partition spec clusters on its transforms (else a
    // partitionBy write would emit every tuple from every task — the
    // small-files explosion); legacy clustering columns otherwise
    val cols: Seq[Column] =
      if (spec.nonEmpty) spec.map(t => transformCol(t, types(t.col)))
      else props.get("graft.partition-columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
        .map(col)
    // explicit count pins the file count (AQE would otherwise coalesce
    // small shuffles into one output file, defeating the clustering)
    val n = props.get("graft.write-partitions").map(_.toInt)
    val sortCols = liveSortCols(df, props)
    if (cols.isEmpty && sortCols.isEmpty) df
    else props.getOrElse("write.distribution-mode", "hash") match {
      case "range" =>
        // a declared sort order extends the range key past the
        // partition transforms: files then cover tight DISJOINT sort
        // ranges (WRITE ORDERED BY's global-order contract) instead of
        // each task owning an arbitrary slice of every key
        val rangeCols = cols ++ sortCols
        n.map(df.repartitionByRange(_, rangeCols: _*))
          .getOrElse(df.repartitionByRange(rangeCols: _*))
      case "none" => df
      case _ if cols.isEmpty => df   // hash mode clusters partition values only
      case _ => n.map(df.repartition(_, cols: _*))
        .getOrElse(df.repartition(cols: _*))
    }
  }

  /** INSERT INTO — one snapshot per call (reference:
    * SPARK_ICEBERG_GUIDE.md §§5-6; many small appends = many small
    * files, by design, so compaction has something to do). */
  def append(spark: SparkSession, root: String, df: DataFrame): Long =
    appendWithProps(spark, root, df, state(root), Map.empty)

  private def appendWithProps(spark: SparkSession, root: String, df: DataFrame,
      snap: Snapshot, commitProps: Map[String, String]): Long = {
    val conformed = conformAppendSchema(root, df, snap)
    val id = conformed.snapshotId + 1
    val filled = fillWriteDefaults(df, conformed.schema)
    val adds = writeDataFiles(spark, root, distribute(filled, conformed.properties), id,
      conformed.properties)
    val landed = commitOrCleanup(root, id, Commit(id, Some(id - 1),
      System.currentTimeMillis(), "append", adds, Seq.empty, commitProps, None))
    maybeAutoCompact(spark, root, conformed.properties)
    landed
  }

  /** Append-time schema contract (silent schema drift is how lakes
    * rot): every incoming column must be a live table column
    * (case-insensitive) with the same type, or a type the table's
    * WIDENS from (an int frame into a bigint column — the reader
    * promotes it). Anything else fails loudly — unless the table
    * opted into Delta-style schema merging (`graft.merge-schema` =
    * true), which ADD COLUMNs brand-new fields (nullable) and widens
    * existing ones the incoming type outgrows, as their own metadata
    * commits BEFORE the data commit. Columns the frame OMITS are
    * always fine: reads null-fill them. Returns the (possibly
    * evolved) snapshot the data commit must chain from.
    * `allowEvolution=false` (staged WAP appends) refuses merging even
    * when the property is set: a schema commit is visible to main
    * immediately, which would leak the staged write's shape. */
  /** Every nested nullability flag forced true, for content-only type
    * comparison (Spark's asNullable is private[spark]). */
  private def nullErased(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, nullErased(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullErased(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullErased(m.keyType), nullErased(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def conformAppendSchema(root: String, df: DataFrame,
      snap: Snapshot, allowEvolution: Boolean = true): Snapshot = {
    val schema = snap.schema
    val merge = allowEvolution &&
      snap.properties.get("graft.merge-schema").exists(_.trim.equalsIgnoreCase("true"))
    var evolved = false
    df.schema.fields.foreach { in =>
      schema.fields.find(_.name.equalsIgnoreCase(in.name)) match {
        // nullability-insensitive compare (array/struct element
        // nullability flags vary by construction path, not content)
        case Some(t) if nullErased(t.dataType) == nullErased(in.dataType) => ()
        case Some(t) if widens(in.dataType, t.dataType) => ()   // reader promotes
        case Some(t) if merge && widens(t.dataType, in.dataType) =>
          widenColumn(root, t.name, in.dataType); evolved = true
        case Some(t) => throw new IllegalArgumentException(
          s"append schema mismatch on '${t.name}': table has " +
            s"${t.dataType.simpleString}, incoming ${in.dataType.simpleString}" +
            (if (merge) "" else
              " (widenable types evolve automatically under table property graft.merge-schema=true)"))
        case None if merge =>
          addColumn(root, StructField(in.name, in.dataType, nullable = true))
          evolved = true
        case None => throw new IllegalArgumentException(
          s"append column '${in.name}' is not in the table schema" +
            (if (allowEvolution)
              "; set table property graft.merge-schema=true to add new columns automatically"
            else " (staged WAP writes never evolve schema — ALTER TABLE first)"))
      }
    }
    if (evolved) state(root) else snap
  }

  /** Opt-in auto-compaction (the Delta autoOptimize pattern): when
    * `graft.auto-compact.min-files` is set and at least that many
    * small data files are live after an append, run an inline bin-pack
    * so streaming/micro-batch ingest never accumulates the small-file
    * problem the guide's §6 demonstrates. Best-effort by design: the
    * APPEND is already durable by the time this runs, so NOTHING here
    * may fail the caller's write — a lost commit race, an executor
    * failure, or a malformed property value all skip the compaction
    * (the next append retries); an unparsable min-files reads as
    * not-set, like a malformed tag property.
    *
    * Do NOT enable on a table consumed via readStreamAppendOnly: the
    * rewrite re-delivers compacted rows through that file stream —
    * same caveat as explicit maintenance, but triggered by ordinary
    * ingest. */
  private def maybeAutoCompact(spark: SparkSession, root: String,
      props: Map[String, String]): Unit =
    props.get("graft.auto-compact.min-files")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .foreach { minFiles =>
        try rewriteDataFiles(spark, root, minInputFiles = minFiles)
        catch { case scala.util.control.NonFatal(_) => () }
      }

  /** Idempotent append for exactly-once streaming ingest (the Delta
    * txn pattern): the commit records (appId → version) in its
    * properties; a retry of an already-committed version is a no-op.
    * Use from foreachBatch with the micro-batch id as the version —
    * without this, a batch that committed but crashed before the
    * checkpoint write would append twice on restart. */
  def appendIdempotent(spark: SparkSession, root: String, df: DataFrame,
      appId: String, version: Long): Long = {
    val snap = state(root)
    val key = s"graft.txn.$appId"
    val last = snap.properties.get(key).map(_.toLong)
    if (last.exists(_ >= version)) return snap.snapshotId   // already ingested
    appendWithProps(spark, root, df, snap, Map(key -> version.toString))
  }

  private[graft] val copyFilesPropPrefix = "graft.copy.files."

  /** `COPY INTO`-style idempotent file ingestion (the Delta/Databricks
    * landing-zone workflow): load the parquet files under `sourceDir`
    * that were NOT loaded before, as ONE append commit whose
    * properties record the batch's file list (one
    * `graft.copy.files.<uuid>` key per ingestion batch). The
    * loaded-file registry is the union of those properties in the
    * current snapshot — it replays and checkpoints with the table and
    * makes retried ingestion jobs converge: re-running over the same
    * directory is a no-op. File identity is the path string (the COPY
    * INTO contract: re-uploading new bytes to a loaded path does not
    * reload it); `force = true` reloads everything regardless.
    * Returns (snapshotId, filesLoaded, rowsLoaded).
    *
    * Scale: the registry is metadata (one small key per batch); the
    * membership test is a set difference on the SAME driver plane
    * that listed the directory — O(listing), never O(table data). The
    * data move is one distributed parquet read through the normal
    * append pipeline, so the schema contract, declared sort order,
    * bloom filters, and CHECK constraints all apply to copied rows. */
  def copyInto(spark: SparkSession, root: String, sourceDir: String,
      force: Boolean = false): (Long, Long, Long) = {
    val snap = state(root)
    val loaded: Set[String] = snap.properties.iterator.collect {
      case (k, v) if k.startsWith(copyFilesPropPrefix) && v.nonEmpty =>
        v.linesIterator
    }.flatten.toSet
    def walkParquet(dir: Path): Seq[Path] = listDir(dir).flatMap { p =>
      if (Files.isDirectory(p)) walkParquet(p)
      else if (p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith(".")) Seq(p)
      else Seq.empty
    }
    val all = walkParquet(Paths.get(sourceDir)).map(_.toString).sorted
    require(all.nonEmpty, s"COPY INTO source has no parquet files: $sourceDir")
    val fresh = if (force) all else all.filterNot(loaded)
    if (fresh.isEmpty) return (snap.snapshotId, 0L, 0L)
    val df = spark.read.parquet(fresh: _*)
    val id = appendWithProps(spark, root, df, snap,
      Map(copyFilesPropPrefix + UUID.randomUUID() -> fresh.mkString("\n")))
    val prevPaths = snap.files.map(_.path).toSet
    val rows = state(root, Some(id)).files
      .collect { case f if !prevPaths(f.path) && f.content.forall(_ == 0) => f.records }.sum
    (id, fresh.size.toLong, rows)
  }

  private[graft] val addFilesPropPrefix = "graft.addfiles."

  /** ZERO-COPY adoption — the Iceberg `add_files`/`snapshot` migration
    * workflow: existing parquet files register as table data WITHOUT a
    * row rewrite. Each source file hard-links into `data/` (same
    * filesystem; the object-store analog is a metadata pointer — a
    * copy is the fallback when linking is impossible) and its manifest
    * entry harvests the parquet FOOTER for records + column stats, so
    * adopted files prune exactly like written ones. The incoming
    * schema must conform to the table's (same append contract — a
    * silent type drift would corrupt every later read); partitioned
    * tables refuse (adopted files carry no partition tuples, so every
    * read would full-scan them — rewrite via COPY INTO instead).
    * Idempotent: an already-adopted source path is skipped, so a
    * retried CALL is a no-op. Returns (snapshot, files added, rows). */
  def addFiles(spark: SparkSession, root: String, sourceDir: String): (Long, Long, Long) = {
    val snap = state(root)
    require(tableSpec(snap.properties).isEmpty,
      "add_files adopts unpartitioned layouts only: adopted files carry no " +
        "partition tuples (use COPY INTO to rewrite into the partition spec)")
    val loaded: Set[String] = snap.properties.iterator.collect {
      case (k, v) if k.startsWith(addFilesPropPrefix) && v.nonEmpty => v.linesIterator
    }.flatten.toSet
    def walkParquet(dir: Path): Seq[Path] = listDir(dir).flatMap { p =>
      if (Files.isDirectory(p)) walkParquet(p)
      else if (p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith(".")) Seq(p)
      else Seq.empty
    }
    val all = walkParquet(Paths.get(sourceDir)).map(_.toString).sorted
    require(all.nonEmpty, s"add_files source has no parquet files: $sourceDir")
    val fresh = all.filterNot(loaded)
    if (fresh.isEmpty) return (snap.snapshotId, 0L, 0L)
    // schema contract: footer-declared columns must conform (no
    // evolution here — adoption must never mutate the table's schema)
    conformAppendSchema(root, spark.read.parquet(fresh: _*), snap, allowEvolution = false)
    val statNames = snap.schema.fields.filter(f => statsTypes.contains(f.dataType))
      .map(_.name).toSet
    val id = snap.snapshotId + 1
    Files.createDirectories(dataDir(root))
    val linked = fresh.zipWithIndex.map { case (src, i) =>
      val name = f"$id%010d-$i%05d-${UUID.randomUUID()}.parquet"
      val dst = dataDir(root).resolve(name)
      try Files.createLink(dst, Paths.get(src))
      catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        Files.copy(Paths.get(src), dst)   // cross-device: copy is the fallback
      }
      dst.toString
    }
    val stats = footerStats(spark, linked).map { case (p, r, s) => p -> (r, s) }.toMap
    val entries = linked.map { p =>
      val (records, st) = stats(p)
      FileEntry(s"data/${Paths.get(p).getFileName}", Files.size(Paths.get(p)), records,
        st.view.filterKeys(statNames).toMap)
    }
    val landed = commitOrCleanup(root, id, Commit(id, Some(id - 1),
      System.currentTimeMillis(), "add_files", entries, Seq.empty,
      Map(addFilesPropPrefix + UUID.randomUUID() -> fresh.mkString("\n")), None))
    (landed, fresh.size.toLong, entries.map(_.records).sum)
  }

  /** Iceberg's `migrate` procedure — promote a RAW parquet directory
    * into a graft table in place, without rewriting a byte: infer the
    * schema from the files (Spark's parquet schema merge), create the
    * table at `root`, then adopt every parquet under `sourceDir` via
    * the add_files hard-link path (footer-harvested stats, zero copy).
    * The source directory keeps working for legacy readers — the
    * adopted files are LINKS, and graft never mutates adopted bytes
    * (CoW rewrites produce new files). Returns (snapshotId, files,
    * rows), like addFiles. */
  def migrate(spark: SparkSession, sourceDir: String, root: String,
      properties: Map[String, String] = Map.empty): (Long, Long, Long) = {
    require(!Files.isDirectory(logDir(root)), s"table already exists at $root")
    val schema = spark.read.parquet(sourceDir).schema
    require(schema.nonEmpty, s"no parquet schema found under $sourceDir")
    create(spark, root, schema, properties)
    addFiles(spark, root, sourceDir)
  }

  /** Iceberg's `snapshot` procedure — a zero-copy table CLONE: a new
    * table whose first snapshot references the SOURCE's current live
    * files by hard link (an object store would reference the same
    * keys) — no data bytes move, and the two tables then evolve
    * independently: writes/compaction/expiry on either never touch
    * the other (deletion removes a LINK; the shared inode survives
    * until both sides release it).
    *
    * Sequence discipline: cloned file NAMES keep their source
    * snapshot-id prefixes (the prefixes encode the eq-delete sequence
    * rule), so the clone's first snapshot id jumps PAST the highest
    * cloned prefix — a later equality delete on the clone covers
    * every cloned data file, exactly as if the rows had always lived
    * there. Parent chains tolerate the gap (the cherrypick precedent).
    *
    * Row lineage re-mints: cloned entries drop their source
    * firstRowId blocks (including materialized markers — the physical
    * `_gf_row_id` column just goes unread) and stamp fresh blocks from
    * the clone's own counter, so source and clone `_row_id` spaces are
    * unrelated. Source refs/tags (they name source snapshot ids), txn
    * seals, add_files memos, and the row-id counter stay behind;
    * schema, partition-spec history, sort order, constraints, and
    * write properties all carry. */
  def snapshotTable(spark: SparkSession, sourceRoot: String,
      destRoot: String): Long = {
    val snap = state(sourceRoot)
    val props = snap.properties.filterNot { case (k, _) =>
      k.startsWith("graft.ref.") || k.startsWith("graft.txn.") ||
        // WAP/branch memos name the source's snapshots
        k.startsWith("graft.wap.") || k.startsWith("graft.branch.") ||
        k.startsWith(addFilesPropPrefix) || k == nextRowIdProp ||
        // the clone's own lineage holds no REPLACE: its generation
        // counter restarts (a carried counter with no marker file
        // would disagree with the clone's state forever)
        k == generationProp
    } + ("graft.snapshot.source" -> sourceRoot)
    create(spark, destRoot, snap.schema, props)
    val adds = snap.files.map { f =>
      val src = Paths.get(sourceRoot, f.path)
      val dst = Paths.get(destRoot, f.path)
      Files.createDirectories(dst.getParent)
      try Files.createLink(dst, src)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, dst)
      }
      f.copy(firstRowId = None)
    }
    val id = adds.map(_.path.split('/').last.takeWhile(_.isDigit))
      .collect { case s if s.nonEmpty => s.toLong }
      .foldLeft(0L)(math.max) + 1
    commitOrCleanup(destRoot, id, Commit(id, Some(0L), System.currentTimeMillis(),
      "snapshot", adds, Seq.empty, Map.empty, None))
  }

  /** `.properties` metadata view (the Iceberg sibling): the current
    * snapshot's table properties as (key, value) rows. */
  def propertiesTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    state(root).properties.toSeq.sortBy(_._1).toDF("key", "value")
  }

  /** Copy-on-write DELETE/overwrite: files whose stats may contain
    * matching rows are rewritten without them; untouched files are
    * carried over by reference. `prunePreds` (a stats-comparable
    * rendering of `condition`, supplied by the caller) narrows the
    * rewrite set — at 100 TB a keyed delete should rewrite a handful
    * of files, not the table. Correctness never depends on it:
    * unpruned files are rewritten with the same filter. */
  def overwriteWhere(spark: SparkSession, root: String, condition: Column,
      replacement: Option[DataFrame] = None,
      prunePreds: Seq[Pred] = Nil): Long = withDmlRetry(root, "delete") {
    overwriteWhereImpl(spark, root, condition, replacement, prunePreds,
      ckptPlanner(spark, root, None))
  }

  private def overwriteWhereImpl(spark: SparkSession, root: String,
      condition: Column, replacement: Option[DataFrame], prunePreds: Seq[Pred],
      p: FilePlanner, stagedProps: Map[String, String] = Map.empty,
      opName: String = "overwrite"): Long = {
    val (schema, props, baseId) = (p.schema, p.properties, p.targetId)
    // a partition-aligned DELETE (no replacement, not staged) drops
    // whole files by reference — no scan, no rewrite
    if (replacement.isEmpty && stagedProps.isEmpty)
      metadataDropVictims(spark, p, condition).foreach { victims =>
        val id = baseId + 1
        return commitOrCleanup(root, id, Commit(id, Some(baseId),
          System.currentTimeMillis(), opName, Seq.empty, victims, Map.empty, None))
      }
    // explicit preds win; otherwise extract them from the condition —
    // a keyed delete then rewrites only files whose stats can match
    val effective =
      if (prunePreds.nonEmpty) prunePreds
      else extractPreds(conditionExpr(spark, schema, condition), p.types)
    val (victims, deletes) = p.files(effective)
    // planned against baseId: main-lineage conflicts fail loudly at
    // the put-if-absent; a STAGED rewrite instead stacks at the raw
    // log head (other stages may pend) — its conflicts are validated
    // at publish time (victim liveness / duplicate-removes rules)
    val id =
      if (stagedProps.isEmpty) baseId + 1
      else math.max(baseId, listCommitIds(root).max) + 1
    // the rewrite must apply any live position-delete files — a CoW
    // overwrite of MoR-deleted rows would otherwise resurrect them
    val kept = readFiles(spark, root, schema, victims, deletes)
      .filter(!coalesce(condition, lit(false)))
    val toWrite = replacement.map(kept.unionByName(_)).getOrElse(kept)
    val adds = writeDataFiles(spark, root, toWrite, id, props)
    // a full-table rewrite leaves no rows the delete files could refer
    // to: retire them — and the historical column names — in the
    // same commit
    val dropDeletes = if (effective.isEmpty) deletes.map(_.path) else Seq.empty
    val (retSchemaJ, retProps) =
      if (effective.isEmpty && stagedProps.isEmpty) retiredNamesMeta(schema, props)
      else (None, Map.empty[String, String])
    // a staged commit's parent is its PLANNING base (main head), not
    // whatever staged commit happens to occupy the previous log slot
    commitOrCleanup(root, id, Commit(id,
      Some(if (stagedProps.isEmpty) id - 1 else baseId),
      System.currentTimeMillis(),
      opName, adds, victims.map(_.path) ++ dropDeletes, retProps ++ stagedProps, retSchemaJ))
  }

  /** Dynamic partition overwrite (Iceberg's INSERT OVERWRITE behavior
    * on partitioned tables): write the incoming rows, then retire
    * exactly the data files whose partition tuple appears in the new
    * data — untouched partitions carry over. The partition tuple set
    * comes from the freshly-written files' own metadata, so no extra
    * pass over the input. */
  def overwriteDynamic(spark: SparkSession, root: String, df: DataFrame): Long = {
    val snap = state(root)
    require(tableSpec(snap.properties).nonEmpty,
      "dynamic partition overwrite needs a declared partition spec " +
        s"($specProp); use overwriteWhere/truncate on unpartitioned tables")
    val id = snap.snapshotId + 1
    val filled = fillWriteDefaults(df, snap.schema)
    val adds = writeDataFiles(spark, root, distribute(filled, snap.properties), id, snap.properties)
    val newTuples = adds.flatMap(_.partition).toSet
    val removes = snap.files.filter(f =>
      f.isData && f.partition.exists(newTuples.contains))
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "overwrite_dynamic", adds, removes.map(_.path), Map.empty, None))
  }

  /** REPLACE TABLE ... AS SELECT as ONE commit in the EXISTING
    * metadata lineage (the reference's REPLACE keeps the snapshot
    * history; reference: SPARK_ICEBERG_GUIDE.md §4): the new
    * generation's data files — written invisibly under `stagedRoot`
    * by the DSv2 staged write — are renamed into this table's data
    * dir under the new snapshot id, every live file of the old
    * generation is logged as removed, and schema + properties
    * (including the partition spec) are replaced wholesale in the
    * same commit. Pre-replace snapshots stay time-travelable until
    * expiry, tags ride through (and keep pinning their snapshots
    * against expire), and a concurrent commit loses the put-if-absent
    * race loudly. Renames only — zero data bytes rewritten, and no
    * reader ever sees a missing or partial table. */
  def replaceFrom(root: String, stagedRoot: String): Long = {
    val snap = state(root)
    val staged = state(stagedRoot)
    require(staged.files.forall(_.isData),
      s"staged replace generation may not carry delete files: $stagedRoot")
    val id = snap.snapshotId + 1
    // the generation marker bumps BEFORE any new-generation file
    // becomes visible under data/: a live readStreamAppendOnly fails
    // its next batch loudly instead of silently serving alien files
    // under the schema it pinned at start. (A replace that then loses
    // the commit race has still staged files into data/ for a window —
    // killing the stream is the safe side of that race.) Streams pin
    // the COMMITTED generationProp, not this marker, so the
    // marker-ahead window between here and the commit reads as a
    // mismatch — exactly the window where a starting stream could
    // otherwise capture the old schema against new-generation files.
    val newGen = nextGeneration(root, snap.properties)
    writeGeneration(root, newGen)
    val adds = staged.files.sortBy(_.path).zipWithIndex.map { case (f, i) =>
      val name = f"$id%010d-$i%05d-${UUID.randomUUID()}.parquet"
      val dst = dataDir(root).resolve(name)
      LakeStore.at(dst).place(Paths.get(stagedRoot, f.path), dst)
      // rename preserves mtime: a staged write older than the orphan
      // horizon would sit in data/ as an unreferenced "old" file for
      // the move→commit window, where a concurrent
      // remove_orphan_files could collect it and the commit would
      // then reference deleted paths — stamp NOW (the same defense
      // the legacy swap path applies to parked generations)
      scala.util.Try(Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())))
      f.copy(path = s"data/$name")
    }
    // tags name snapshots, and a replace swaps the table's config,
    // not its history — refs are the one property family that merges
    // through so pinned pre-replace snapshots stay reachable
    val refs = snap.properties.view.filterKeys(_.startsWith("graft.ref.")).toMap
    // operational config rides through too (else a documented
    // stream-guard opt-out silently re-arms at the very REPLACE it
    // exists to permit); an explicit setting on the staged table wins
    val opCfg = snap.properties.view
      .filterKeys(_ == "graft.stream.generation-guard").toMap
      .filterNot { case (k, _) => staged.properties.contains(k) }
    try commitOrCleanup(root, id, Commit(id, Some(snap.snapshotId),
      System.currentTimeMillis(), "replace", adds, snap.files.map(_.path),
      staged.properties ++ refs ++ opCfg + (generationProp -> newGen.toString),
      Some(staged.schema.json)))
    catch { case e: Throwable =>
      // the marker bumped above but the generation never committed:
      // left alone it would disagree with generationProp FOREVER and
      // every future property-pinned stream start would fail its first
      // batch. Heal it back to whatever actually won the race (a
      // concurrent replace's committed counter, or the old value).
      scala.util.Try(writeGeneration(root, committedGeneration(state(root).properties)))
      throw e
    }
  }

  /** DELETE ... WHERE honoring the table's `write.delete.mode`
    * property (reference: the Iceberg table property of the same
    * name): `copy-on-write` (default) rewrites affected files without
    * the rows; `merge-on-read` records position-delete files instead
    * and defers the rewrite to rewritePositionDeletes/compaction. */
  def deleteWhere(spark: SparkSession, root: String, condition: Column,
      prunePreds: Seq[Pred] = Nil): Long = withDmlRetry(root, "delete") {
    // dispatch off the planner header, not state(root): on a
    // million-file table the mode lookup alone must not replay the
    // log — and the ONE planner built here threads through to the
    // chosen branch (each construction re-parses the whole tail)
    val p = ckptPlanner(spark, root, None)
    if (p.properties.get("write.delete.mode").contains("merge-on-read"))
      deleteWhereMoRImpl(spark, root, condition, prunePreds, p)
    else overwriteWhereImpl(spark, root, condition, None, prunePreds, p)
  }

  /** Merge-on-read DELETE: position-delete files (content=1) listing
    * (file_path, pos) of every matching row — the write is O(matches),
    * not O(touched-file bytes), which is the point of MoR at 100 TB:
    * a keyed delete against a petabyte partition writes kilobytes.
    * Reads anti-join the delete set (readFiles); compaction folds it
    * in. A broad delete (many touched data files) shards the write on
    * hash(file_path) — one delete file per shard, all committed
    * together — so no single task ever funnels the whole match set. */
  def deleteWhereMoR(spark: SparkSession, root: String, condition: Column,
      prunePreds: Seq[Pred] = Nil): Long = withDmlRetry(root, "delete") {
    deleteWhereMoRImpl(spark, root, condition, prunePreds,
      ckptPlanner(spark, root, None))
  }

  /** The position-delete file schema the writer below emits. Every
    * read of those files declares it (GraftDv.schema is the container
    * twin), so none pays a one-task schema-inference job. */
  private[lake] val posDeleteSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  private def deleteWhereMoRImpl(spark: SparkSession, root: String,
      condition: Column, prunePreds: Seq[Pred],
      p: FilePlanner, precomputedDrop: Option[Option[Seq[String]]] = None): Long = {
    val (schema, props) = (p.schema, p.properties)
    val id = p.targetId + 1
    // partition-aligned predicates delete by METADATA even under MoR:
    // dropping whole files by reference beats writing their every row
    // ordinal into position-delete files. deleteWhereRouted already
    // computed the victim set to pick this route — don't re-run the
    // partition-plane jobs when it hands the result down.
    precomputedDrop.getOrElse(metadataDropVictims(spark, p, condition)).foreach { victims =>
      return commitOrCleanup(root, id, Commit(id, Some(id - 1),
        System.currentTimeMillis(), "delete", Seq.empty, victims, Map.empty, None))
    }
    val effective =
      if (prunePreds.nonEmpty) prunePreds
      else extractPreds(conditionExpr(spark, schema, condition), p.types)
    val (victims, deletes) = p.files(effective)
    if (victims.isEmpty) {
      return commitOrCleanup(root, id, Commit(id, Some(id - 1),
        System.currentTimeMillis(), "delete", Seq.empty, Seq.empty, Map.empty, None))
    }
    // positions of matching rows NOT already deleted (an already-
    // deleted row re-listed would be harmless — distinct on apply —
    // but would inflate the delete-file row count diagnostics)
    val matches = liveRowsWithIds(spark, root, schema, victims, deletes)
      .filter(coalesce(condition, lit(false)))
      .select(col("_gf_path").as("file_path"), col("_gf_pos").as("pos"))
    // Shard count scales with the touched-file count — a free proxy
    // for the match volume (each data file bounds its own positions),
    // so no extra count job runs over the scan. Hashing on file_path
    // keeps one data file's positions inside one delete file, and the
    // narrow-delete case stays a single file.
    val perShard = props.get("graft.delete.files-per-shard")
      .map(_.toInt).getOrElse(64)
    val shards = math.min(4096, math.max(1, victims.size / math.max(1, perShard)))
    val staged = if (shards > 1) matches.repartition(shards, col("file_path"))
                 else matches.coalesce(1)
    val adds = stageDeleteParts(spark, root) { (target, opts) =>
      staged.write.options(opts).parquet(target)
    } { (records, size, _) =>
      val name = f"$id%010d-delete-${UUID.randomUUID()}.parquet"
      (name, FileEntry(s"deletes/$name", size, records, Map.empty, None, Some(1)))
    }
    val landed = commitOrCleanup(root, id, Commit(id, Some(id - 1),
      System.currentTimeMillis(), "delete", adds, Seq.empty, Map.empty, None))
    maybeAutoDvCompact(spark, root, props)
    landed
  }

  /** Test hook: see GraftMorCache.clearForTest. */
  private[graft] def clearMorCachesForTest(): Unit = GraftMorCache.clearForTest()

  /** Test hook: drop the in-memory decision memo so specs can prove
    * the on-disk decision/mirror files alone carry the verdict. */
  private[graft] def clearDecisionMemoForTest(): Unit = decisionMemo.clear()

  /** Opt-in automatic delete compaction (the Iceberg-v3 sibling of
    * maybeAutoCompact): when `graft.delete.auto-dv.min-files` is set
    * and at least that many position-semantics delete files (content
    * 1 or 3) are live after a MoR delete, fold them into one
    * deletion-vector container so high-churn delete workloads never
    * accumulate a per-read stack of delete files. Best-effort by the
    * same contract: the DELETE is already durable — a lost race, an
    * executor failure, or a malformed property value skips the
    * compaction (the next delete retries). */
  private def maybeAutoDvCompact(spark: SparkSession, root: String,
      props: Map[String, String]): Unit =
    props.get("graft.delete.auto-dv.min-files")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .foreach { minFiles =>
        try {
          val n = state(root).files.count(f =>
            f.content.contains(1) || f.content.contains(3))
          if (n >= minFiles) rewriteDeletesToDV(spark, root)
        } catch { case scala.util.control.NonFatal(_) => () }
      }

  /** Stage a delete-plane parquet write (`write` receives the staging
    * target + writer options — direct-write mounts stage remotely),
    * then publish every non-empty part into deletes/ under a
    * caller-minted name/entry and drop the stage. The size passed to
    * `mk` is the part's staged size (== final: publish is a move or a
    * server-side copy); parts are visited in name order so retries
    * stage deterministically. */
  private def stageDeleteParts(spark: SparkSession, root: String)(
      write: (String, Map[String, String]) => Unit)(
      mk: (Long, Long, Map[String, ColStats]) => (String, FileEntry)): Seq[FileEntry] = {
    val staging = newStaging(root)
    try {
      write(staging.target, staging.writerOptions)
      val conf = staging.footerConf(spark)
      staging.parts().sortBy(_._1).flatMap { case (rel, size) =>
        val (_, records, st) = readFooter(staging.uriOf(rel), conf)
        if (records == 0L) { staging.dropStaged(rel); None }
        else {
          val (name, entry) = mk(records, size, st)
          staging.publish(rel, s"deletes/$name")
          Some(entry)
        }
      }
    } finally staging.close()
  }

  /** rewrite_position_deletes (reference: SPARK_ICEBERG_GUIDE.md scope
    * line 17): fold every live position-delete file into its data
    * files — affected data files are rewritten without their deleted
    * rows, then ALL delete files retire in the same commit, returning
    * the content=1 diagnostics count to zero. */
  def rewritePositionDeletes(spark: SparkSession, root: String): Long = {
    val snap = state(root)
    val posDeletes = snap.files.filter(f =>
      f.content.contains(1) || f.content.contains(3))
    if (posDeletes.isEmpty) return snap.snapshotId
    val dataFiles = snap.files.filter(_.isData)
    // the delete files are read DIRECTLY below (not through readFiles),
    // so a lazy follower must hydrate them here or the read 404s
    hydrate(root, posDeletes.map(_.path))
    // which data files actually carry deleted positions? (match on the
    // unique file NAME — _metadata.file_path is an absolute URI; a DV
    // container names its victims in its own `name` column)
    val affectedNames =
      posDeletes.filter(_.content.contains(1)) match {
        case Seq() => Set.empty[String]
        case ps => spark.read.schema(posDeleteSchema)
          .parquet(ps.map(f => s"$root/${f.path}"): _*)
          .select(col("file_path")).distinct()
          .collect().map(r => r.getString(0).split('/').last).toSet
      }
    val dvNames = posDeletes.filter(_.content.contains(3)) match {
      case Seq() => Set.empty[String]
      case ds => spark.read.schema(GraftDv.schema)
        .parquet(ds.map(f => s"$root/${f.path}"): _*)
        .select(col("name")).distinct().collect().map(_.getString(0)).toSet
    }
    val allNames = affectedNames ++ dvNames
    val affected = dataFiles.filter(f => allNames.contains(f.path.split('/').last))
    val id = snap.snapshotId + 1
    // apply ALL deletes while rewriting (equality deletes included —
    // the rewritten file must not resurrect any deleted row), but only
    // the position-semantics delete files retire in this commit
    val rewritten = readFiles(spark, root, snap.schema, affected, snap.files.filter(_.isDelete))
    val adds = writeDataFiles(spark, root, rewritten, id, snap.properties)
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "rewrite_position_deletes", adds,
      affected.map(_.path) ++ posDeletes.map(_.path), Map.empty, None))
  }

  /** `rewrite_position_deletes(mode => 'dv')` — the Iceberg-v3 delete
    * compaction: fold every live position-delete file AND every prior
    * deletion-vector container into ONE fresh container (parquet of
    * `(name, dv)` roaring bitmaps, content=3), retiring the inputs in
    * the same commit. Data files are NOT touched — zero data bytes
    * rewritten — which is the entire point: standing deletes stop
    * costing a per-read parse of N stacked position-delete files and
    * become one compact bitmap load per executor. Delete entries whose
    * target file died (rewritten/removed since) are dropped, so the
    * container never carries debris. The build is one distributed
    * groupByKey over the delete rows (bitmaps assemble from an
    * iterator, never a materialized per-file list); maintenance-class:
    * CDC emits nothing. */
  def rewriteDeletesToDV(spark: SparkSession, root: String): Long = {
    import spark.implicits._
    val snap = state(root)
    val pos = snap.files.filter(_.content.contains(1))
    val dvs = snap.files.filter(_.content.contains(3))
    if (pos.isEmpty && dvs.size <= 1) return snap.snapshotId   // already compact
    // direct parquet reads of the delete inputs below — hydrate first
    // (lazy-follower discipline, same as rewritePositionDeletes)
    hydrate(root, (pos ++ dvs).map(_.path))
    val baseName = (c: Column) => substring_index(c, "/", -1)
    val posPart = Option.when(pos.nonEmpty)(
      spark.read.schema(posDeleteSchema).parquet(pos.map(f => s"$root/${f.path}"): _*)
        .select(baseName(col("file_path")).as("_gf_name"), col("pos").as("_gf_pos")))
    val dvPart = Option.when(dvs.nonEmpty)(
      GraftDv.positionsDf(spark, dvs.map(f => s"$root/${f.path}"), "_gf_name", "_gf_pos"))
    val liveNames = snap.files.filter(_.isData)
      .map(_.path.split('/').last).toDF("_gf_name")
    val all = (posPart.toSeq ++ dvPart).reduce(_.unionByName(_))
      .join(liveNames, Seq("_gf_name"), "left_semi")   // drop dead-target debris
      .distinct()
    val id = snap.snapshotId + 1
    // Container write sharded by victim-name hash — same scaling rule
    // as the pos/eq delete writers: one data file's bitmap stays whole
    // inside one container, but at millions of dirty files the fold is
    // no longer a single-task ceiling. Live-data-file count is the
    // driver-side upper bound on dirty names (no extra count job);
    // zero-record shards are dropped by stageDeleteParts, so
    // over-sharding a lightly-dirty table costs nothing. Every read
    // plane (.position_deletes, MoR apply, CDC) already unions N
    // containers.
    val perShard = snap.properties.get("graft.delete.files-per-shard")
      .map(_.toInt).getOrElse(64)
    val shards = math.min(4096L,
      math.max(1L, snap.files.count(_.isData).toLong / math.max(1, perShard))).toInt
    val container = all.as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (n, it) => (n, GraftDv.encode(it.map(_._2))) }
      .toDF("name", "dv")
      .repartition(shards, col("name")).sortWithinPartitions("name")
    val adds = stageDeleteParts(spark, root) { (target, opts) =>
      container.write.options(opts).parquet(target)
    } { (records, size, _) =>
      val name = f"$id%010d-dv-${UUID.randomUUID()}.parquet"
      (name, FileEntry(s"deletes/$name", size, records, Map.empty, None, Some(3)))
    }
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "rewrite_position_deletes", adds, (pos ++ dvs).map(_.path), Map.empty, None))
  }

  /** SQL front-door DELETE routing: a pure key-membership predicate
    * (`k IN (...)`, `k = v`, or a conjunction of equalities, plus at
    * most one IN) on a merge-on-read table becomes an EQUALITY-delete
    * file — O(keys) written, no matching-file scan at all, the shape
    * a petabyte keyed delete needs. Everything else (ranges, nulls,
    * unsupported key types) takes the standard position-delete /
    * copy-on-write path. One planner header serves both branches. */
  def deleteWhereRouted(spark: SparkSession, root: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      condition: Column): Long = withDmlRetry(root, "delete") {
    val p = ckptPlanner(spark, root, None)
    val mor = p.properties.get("write.delete.mode").contains("merge-on-read")
    // a keyed delete on identity-PARTITION columns is better than an
    // equality-delete file: whole files drop by metadata — computed
    // ONCE here and threaded into the MoR impl so the routing decision
    // and the commit share the same partition-plane pass
    val drop = if (mor) metadataDropVictims(spark, p, condition) else None
    if (mor && drop.isEmpty) equalityKeyFrame(spark, p.schema, filters) match {
      case Some(keys) => return deleteEqualityMoR(spark, root, keys)
      case None => ()
    }
    if (mor) deleteWhereMoRImpl(spark, root, condition, Nil, p, Some(drop))
    else overwriteWhereImpl(spark, root, condition, None, Nil, p)
  }

  /** The key DataFrame for a routable membership predicate, or None.
    * Strict by design: exact live column names, non-null values whose
    * runtime class matches the column type (SQL `IN` never matches
    * NULL, but the eq-delete anti-join is null-SAFE — a null value
    * slipping through would delete null-keyed rows the statement did
    * not ask for). */
  private def equalityKeyFrame(spark: SparkSession, schema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[DataFrame] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    if (filters.isEmpty) return None
    def boxOf(dt: DataType): Option[Class[_]] = dt match {
      case IntegerType => Some(classOf[java.lang.Integer])
      case LongType => Some(classOf[java.lang.Long])
      case ShortType => Some(classOf[java.lang.Short])
      case ByteType => Some(classOf[java.lang.Byte])
      case StringType => Some(classOf[String])
      case BooleanType => Some(classOf[java.lang.Boolean])
      case _ => None
    }
    var eqs = List.empty[(String, Any)]
    var inF: Option[(String, Seq[Any])] = None
    filters.foreach {
      case EqualTo(a, v) if v != null => eqs = (a, v) :: eqs
      case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) && inF.isEmpty =>
        inF = Some((a, vs.toSeq))
      case _ => return None
    }
    val cols = eqs.map(_._1) ++ inF.map(_._1).toList
    if (cols.distinct.size != cols.size) return None
    val fields = cols.map(c => schema.fields.find(_.name == c) match {
      case Some(f) => f
      case None => return None
    })
    val boxes = fields.map(f => boxOf(f.dataType) match {
      case Some(b) => b
      case None => return None
    })
    val eqOk = eqs.map(_._2).zip(boxes.take(eqs.size))
      .forall { case (v, b) => b.isInstance(v) }
    val inOk = inF.forall { case (_, vs) => vs.forall(boxes.last.isInstance(_)) }
    if (!eqOk || !inOk) return None
    val rows = inF match {
      case Some((_, vs)) => vs.map(v => Row.fromSeq(eqs.map(_._2) :+ v))
      case None => Seq(Row.fromSeq(eqs.map(_._2)))
    }
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1),
      StructType(fields.map(_.copy(nullable = false)))))
  }

  /** Merge-on-read DELETE by key VALUES — an equality-delete file
    * (content=2, the other Iceberg v2 delete flavor; guide scope:
    * rewrite_equality_deletes). `keys` holds distinct values of a
    * column subset; rows equal (null-safely) on those columns are
    * deleted from data files committed STRICTLY BEFORE this delete —
    * appends at or after it are untouched (sequence-number semantics
    * via the snapshot-id file-name prefix; strict, as in Iceberg, so
    * upsertEqualityMoR's one-commit delete+append composes). The
    * write is O(keys): deleting a billion rows by key costs one tiny
    * file. */
  def deleteEqualityMoR(spark: SparkSession, root: String,
      keys: DataFrame): Long = withDmlRetry(root, "delete") {
    val snap = state(root)
    val schema = snap.schema
    val cols = keys.columns.toSeq
    require(cols.nonEmpty && cols.forall(schema.fieldNames.contains),
      s"equality-delete columns must be table columns; got $cols")
    val id = snap.snapshotId + 1
    // The key set is usually tiny (that's the point of eq-deletes),
    // but nothing bounds it: above `graft.delete.rows-per-shard`
    // distinct keys the write shards on hash(key). The count runs off
    // the persisted distinct set, so the dedup shuffle executes once.
    val distinctKeys = keys.distinct().persist()
    val adds =
      try stageEqualityKeys(spark, root, distinctKeys, cols, id,
        snap.properties, schema)
      finally distinctKeys.unpersist()
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "delete", adds, Seq.empty, Map.empty, None))
  }

  /** Stage a (pre-distinct'd, key-projected) frame as sharded
    * equality-delete files named under snapshot `id`. Carries the key
    * columns' min/max per shard: CDC (deleteVictims) and
    * rewrite_equality_deletes then bound which data files a keyed
    * delete can touch instead of scanning the table. Only statsTypes
    * columns — parquet FOOTER stats render decimals as UNSCALED-
    * integer text ('12500' for 125.00), which cmp's BigDecimal branch
    * would parse at the wrong magnitude and silently drop victims;
    * partition-tuple text (scaled, from CAST AS STRING) is the only
    * decimal rendering the comparators accept. */
  private def stageEqualityKeys(spark: SparkSession, root: String,
      distinctKeys: DataFrame, cols: Seq[String], id: Long,
      props: Map[String, String], schema: StructType,
      knownCount: Option[Long] = None): Seq[FileEntry] = {
    val rowsPerShard = props.get("graft.delete.rows-per-shard")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)
    // callers that already counted the persisted key set (upsert's
    // dup-key require) pass the count in — the shard sizing never
    // re-runs that job
    val n = knownCount.getOrElse(distinctKeys.count())
    val shards = math.min(1024L, math.max(1L, (n + rowsPerShard - 1) / rowsPerShard)).toInt
    val staged = if (shards > 1) distinctKeys.repartition(shards, cols.map(col): _*)
                 else distinctKeys.coalesce(1)
    val statCols = cols.filter(c => statsTypes.contains(
      schema.fields(schema.fieldIndex(c)).dataType)).toSet
    stageDeleteParts(spark, root) { (target, opts) =>
      staged.write.options(opts).parquet(target)
    } { (records, size, st) =>
      val name = f"$id%010d-eqdelete-${UUID.randomUUID()}.parquet"
      (name, FileEntry(s"deletes/$name", size, records,
        st.view.filterKeys(statCols).toMap, None, Some(2), Some(cols)))
    }
  }

  /** Flink-style merge-on-read UPSERT: ONE commit carrying BOTH an
    * equality-delete file keyed on `keyCols` (killing prior versions
    * of the batch's keys — it applies to files committed STRICTLY
    * before this snapshot, the Iceberg sequence rule, which the
    * batch's own data files escape by sharing the commit's snapshot
    * prefix) AND the batch's data files. The write is O(batch): no
    * victim scan, no rewrite — the 100 TB CDC-ingestion shape
    * (Flink's Iceberg upsert writer); standing deletes retire at
    * rewrite_equality_deletes / compaction. Readers never see the
    * intermediate state (delete and insert land atomically), and the
    * CDC feed diffs the commit into per-key delete+insert pairs at one
    * boundary via the generic rewrite diff. Duplicate keys WITHIN a
    * batch are refused (which version wins would be nondeterministic —
    * merge's contract). `txn` = (appId, version) makes replays no-ops
    * for exactly-once streaming sinks. */
  def upsertEqualityMoR(spark: SparkSession, root: String, batch: DataFrame,
      keyCols: Seq[String],
      txn: Option[(String, Long)] = None): Long = withDmlRetry(root, "merge") {
    val snap = state(root)
    val schema = snap.schema
    require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains),
      s"upsert key columns must be table columns; got $keyCols")
    txn.foreach { case (appId, version) =>
      if (snap.properties.get(s"graft.txn.$appId").map(_.toLong).exists(_ >= version))
        return snap.snapshotId   // already applied
    }
    // schema contract only — never evolve mid-upsert (a schema commit
    // between version checks would break the txn replay guarantee)
    val conformed = conformAppendSchema(root, batch, snap, allowEvolution = false)
    val id = conformed.snapshotId + 1
    val persisted = batch.persist()
    try {
      val n = persisted.count()
      val keys = persisted.select(keyCols.map(col): _*).distinct().persist()
      try {
        val kc = keys.count()
        require(kc == n,
          s"upsert batch carries duplicate keys on (${keyCols.mkString(", ")}) — " +
            "dedupe to one version per key first (same contract as merge)")
        // the batch's data files and its eq-delete key file are
        // INDEPENDENT writes off the two cached relations (guide §2.6):
        // run them as concurrent jobs. Both stage into their own
        // private staging dirs, and withMicrosTimestamps is refcounted
        // per session, so the writers never share mutable state; the
        // dup-key require above stays BEFORE any file is staged.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val (dataAdds, eqAdds) =
          try {
            implicit val ec: ExecutionContext =
              ExecutionContext.fromExecutorService(pool)
            val fd = Future(writeDataFiles(spark, root,
              distribute(fillWriteDefaults(persisted, schema), snap.properties),
              id, snap.properties))
            val fe = Future(stageEqualityKeys(spark, root, keys, keyCols, id,
              snap.properties, schema, knownCount = Some(kc)))
            (Await.result(fd, Duration.Inf), Await.result(fe, Duration.Inf))
          } finally pool.shutdown()
        commitOrCleanup(root, id, Commit(id, Some(id - 1),
          System.currentTimeMillis(), "upsert", dataAdds ++ eqAdds, Seq.empty,
          txn.map { case (a, v) => s"graft.txn.$a" -> v.toString }.toMap, None))
      } finally keys.unpersist(blocking = false)
    } finally persisted.unpersist(blocking = false)
  }

  /** rewrite_equality_deletes: fold every live equality-delete file
    * into its data files. Affected = data files old enough for some
    * eq-delete to apply AND whose stats overlap that delete's key
    * bounds; they rewrite with all deletes applied, then the
    * equality-delete files retire. */
  def rewriteEqualityDeletes(spark: SparkSession, root: String): Long = {
    val snap = state(root)
    val eqDeletes = snap.files.filter(_.content.contains(2))
    if (eqDeletes.isEmpty) return snap.snapshotId
    val schema = snap.schema
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val dataFiles = snap.files.filter(_.isData)
    // key bounds per delete file, computed ONCE (not per data file!) —
    // timestamp keys excluded: CAST(ts AS STRING) renders formatted
    // text while footer stats store epoch-micros, so those bounds
    // would not be comparable (prune is best-effort; skipping a column
    // only widens the rewrite set)
    val deleteBounds: Seq[(Long, Seq[Pred])] = eqDeletes.map { d =>
      val eligible = d.eqCols.getOrElse(Seq.empty)
        .filter(c => statsTypes.contains(types(c)))
      // the delete file's own footer stats (recorded at write time, in
      // the same rendering as data-file footer stats — timestamps
      // included) make the per-file aggregation job below unnecessary
      val fromStats = eligible.flatMap { c =>
        d.stats.get(c).toSeq.flatMap(st =>
          st.min.map(Ge(c, _)).toSeq ++ st.max.map(Le(c, _)).toSeq)
      }
      val preds =
        if (fromStats.nonEmpty) fromStats
        else {
          // pre-stats delete files: recompute via one aggregation job —
          // timestamp keys excluded there (CAST renders formatted text
          // while footer stats store epoch-micros, not comparable)
          val cols = eligible.filter(c =>
            types(c) != TimestampType && types(c) != TimestampNTZType)
          if (cols.isEmpty) Seq.empty[Pred]
          else {
            val aggs = cols.flatMap(c => Seq(min(col(c)).cast("string").as(s"mn_$c"),
              max(col(c)).cast("string").as(s"mx_$c")))
            hydrate(root, Seq(d.path))   // direct read — lazy-follower discipline
            val p = s"$root/${d.path}"
            val r = spark.read.schema(parquetSchema(spark, p)).parquet(p)
              .agg(aggs.head, aggs.tail: _*).collect().head
            cols.flatMap { c =>
              Option(r.getAs[String](s"mn_$c")).map(Ge(c, _)).toSeq ++
                Option(r.getAs[String](s"mx_$c")).map(Le(c, _)).toSeq
            }
          }
        }
      (d.snapshotOfName, preds)
    }
    // a data file is affected if it predates some eq-delete and may
    // hold any of that delete's keys (aliases: a file written before a
    // rename keeps its stats under the old physical name)
    val aliases = statAliases(schema)
    val affected = dataFiles.filter { f =>
      deleteBounds.exists { case (delSnap, preds) =>
        f.snapshotOfName < delSnap && mayMatch(types, preds, aliases)(f)
      }
    }
    val id = snap.snapshotId + 1
    val rewritten = readFiles(spark, root, schema, affected, snap.files.filter(_.isDelete))
    val adds = writeDataFiles(spark, root, rewritten, id, snap.properties)
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "rewrite_equality_deletes", adds,
      affected.map(_.path) ++ eqDeletes.map(_.path), Map.empty, None))
  }

  /** UPDATE ... SET expr (copy-on-write): files whose stats/partition
    * may hold matching rows are rewritten with `set` applied to the
    * matching rows; every set expression evaluates against the
    * ORIGINAL row (one atomic projection, standard UPDATE semantics). */
  def update(spark: SparkSession, root: String, condition: Column,
      set: Map[String, Column],
      prunePreds: Seq[Pred] = Nil): Long = withDmlRetry(root, "update") {
    val p = ckptPlanner(spark, root, None)
    val (schema, props) = (p.schema, p.properties)
    require(set.keySet.subsetOf(schema.fieldNames.toSet),
      s"unknown update columns: ${set.keySet -- schema.fieldNames}")
    val effective =
      if (prunePreds.nonEmpty) prunePreds
      else extractPreds(conditionExpr(spark, schema, condition), p.types)
    val (victims, deletes) = p.files(effective)
    val id = p.targetId + 1
    val cond = coalesce(condition, lit(false))
    val projected = readFiles(spark, root, schema, victims, deletes)
      .select(schema.fields.map { f =>
        set.get(f.name)
          .map(e => when(cond, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
          .getOrElse(col(f.name))
      }.toIndexedSeq: _*)
    val adds = writeDataFiles(spark, root, projected, id, props)
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "update", adds, victims.map(_.path), Map.empty, None))
  }

  // ── MERGE ───────────────────────────────────────────────────────────

  /** Clause model for the generalized MERGE (the SQL grammar's
    * `WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE` and
    * `WHEN NOT MATCHED [AND cond] THEN INSERT ...`). Clause conditions
    * and value expressions see the TARGET row's columns under their
    * own names and the SOURCE row's columns under `mergeSourcePrefix`
    * (the SQL front door rewrites alias-qualified references to this
    * convention). Clauses apply in order: the first whose condition
    * evaluates true wins for each row, standard MERGE semantics. */
  sealed trait MergeClause { def condition: Option[Column] }
  /** `set = None` is SET * (whole row from source); a partial map
    * leaves unlisted target columns unchanged. */
  case class MergeUpdate(condition: Option[Column],
      set: Option[Map[String, Column]] = None) extends MergeClause
  case class MergeDelete(condition: Option[Column]) extends MergeClause
  /** `values = None` is INSERT *; an explicit map fills unlisted
    * columns with NULL (the SQL INSERT-column-list rule). */
  case class MergeInsert(condition: Option[Column],
      values: Option[Map[String, Column]] = None) extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE` clauses: apply to TARGET rows with
    * no source match. There is no source row, so SET * is impossible
    * (the map is required) and any source-column reference in the
    * condition/values evaluates null (condition → false, the SQL
    * three-valued rule). A BY SOURCE clause widens victim selection to
    * every live data file — any target row can change, so key-bounds
    * pruning no longer applies (Delta disables file skipping for these
    * clauses for the same reason). */
  case class MergeUpdateBySource(condition: Option[Column],
      set: Map[String, Column]) extends MergeClause
  case class MergeDeleteBySource(condition: Option[Column]) extends MergeClause

  /** Source-column namespace inside merge clause expressions. Starts
    * with the reserved `_g` prefix (renameColumn refuses user columns
    * there), so it can never collide with a target name. */
  val mergeSourcePrefix = "_gs_"

  private val mergeDefaultClauses: Seq[MergeClause] =
    Seq(MergeUpdate(None, None), MergeInsert(None, None))

  /** ONE aggregation pass over the source yields both the MERGE
    * cardinality check and the key min/max pruning bounds: group by
    * the source-side key columns (map-side partial agg shrinks the
    * shuffle to one row per distinct key), then fold the groups into
    * a single row — max group size plus per-key min/max (min over
    * distinct keys equals min over all rows). Replaces what used to
    * be two separate jobs (a duplicate-count pass, then a bounds
    * pass), so a 100 TB source is scanned once before the merge join
    * instead of twice. Rows with a null in any key column are exempt
    * from the cardinality rule — null never equals a target key, so
    * such rows only reach NOT MATCHED clauses, where duplicates are
    * ordinary inserts. `keyPairs` maps target key name → source key
    * name (they differ when MERGE ON equates differently-named
    * columns); bounds come from source values but are emitted under
    * the TARGET name, which is what file pruning compares against. */
  private def sourceKeyAnalysis(source: DataFrame, keyPairs: Seq[(String, String)],
      types: Map[String, DataType]): Seq[Pred] = {
    val srcKeys = keyPairs.map(_._2)
    val grouped = source.groupBy(srcKeys.map(col): _*).agg(count(lit(1)).as("__gcnt"))
    val allKeysNotNull = srcKeys.map(col(_).isNotNull).reduce(_ && _)
    val boundPairs = keyPairs.filter { case (t, _) => statsTypes.contains(types(t)) }
    val aggs = max(when(allKeysNotNull, col("__gcnt"))).as("__dup") +:
      boundPairs.flatMap { case (t, sc) =>
        Seq(min(col(sc)).as(s"__mn_$t"), max(col(sc)).as(s"__mx_$t")) }
    val r = grouped.agg(aggs.head, aggs.tail: _*).collect().head
    require(r.isNullAt(0) || r.getLong(0) <= 1L,
      "MERGE source has duplicate keys (ON clause would match a target row twice)")
    boundPairs.flatMap { case (t, _) =>
      def render(v: Any): Option[String] = v match {
        case null => None
        case d: java.sql.Date => Some(d.toString)
        case d: java.time.LocalDate => Some(d.toString)
        case t: java.sql.Timestamp => Some((t.getTime * 1000L + t.getNanos / 1000 % 1000).toString)
        case t: java.time.Instant => Some((t.getEpochSecond * 1000000L + t.getNano / 1000).toString)
        case t: java.time.LocalDateTime =>
          Some((t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString)
        case x => Some(x.toString)
      }
      render(r.getAs[Any](s"__mn_$t")).map(Ge(t, _)).toSeq ++
        render(r.getAs[Any](s"__mx_$t")).map(Le(t, _)).toSeq
    }
  }

  /** MERGE INTO (upsert, copy-on-write): `source` rows replace target
    * rows with equal `keyCols` (WHEN MATCHED THEN UPDATE SET *) and
    * are inserted otherwise (WHEN NOT MATCHED THEN INSERT *). Only
    * files whose stats overlap the source's key bounds rewrite — a
    * keyed upsert against a large table touches the few files holding
    * those keys, not the table. Source must not contain duplicate
    * keys (standard MERGE cardinality rule; violations make the
    * result nondeterministic, so we fail loudly). */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String]): Long = withDmlRetry(root, "merge") {
    val p = ckptPlanner(spark, root, None)
    val (schema, props) = (p.schema, p.properties)
    require(keyCols.nonEmpty && keyCols.forall(p.types.contains), s"bad merge keys: $keyCols")
    val preds = sourceKeyAnalysis(source, keyCols.map(k => (k, k)), p.types)
    val (victims, deletes) = p.files(preds)
    val id = p.targetId + 1
    val src = source.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val kept = readFiles(spark, root, schema, victims, deletes)
      .join(src.select(keyCols.map(col): _*), keyCols, "left_anti")
    val adds = writeDataFiles(spark, root, kept.unionByName(src), id, props)
    // a full-table rewrite (no key bounds) leaves no rows the delete
    // files could refer to: retire them like overwriteWhere does, or
    // every such merge accretes dead-but-live delete files forever
    val dropDeletes = if (preds.isEmpty) deletes.map(_.path) else Seq.empty
    val (retSchemaJ, retProps) =
      if (preds.isEmpty) retiredNamesMeta(schema, props)
      else (None, Map.empty[String, String])
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "merge", adds, victims.map(_.path) ++ dropDeletes, retProps, retSchemaJ))
  }

  /** Generalized MERGE with the full clause grammar. The plan is one
    * full-outer join of the touched files against the prefixed source,
    * then a per-row first-true-clause projection — one shuffle, no
    * driver loops, same key-bounds file pruning as the plain upsert
    * (NOT MATCHED detection within touched files is exact because any
    * target row holding a source key lives in a touched file by
    * construction). NOT MATCHED BY SOURCE clauses widen the victims to
    * every live data file — any target row can change. The plain
    * two-clause upsert delegates to the anti-join fast path above. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String], clauses: Seq[MergeClause]): Long =
    merge(spark, root, source, keyCols.map(k => (k, k)), clauses)

  /** As above, with `keyPairs` = (target key, source key) per ON
    * conjunct: Iceberg accepts `ON t.id = s.key` with differently-
    * named sides, so the key columns need not share a name. The
    * source side is renamed into the `_gs_` namespace wholesale, so
    * only the join condition cares about the pairing. */
  /** Idempotent generalized MERGE — the Delta txn pattern
    * appendIdempotent uses, extended to merges: the commit records
    * (appId → version) in its properties, and a retry of an
    * already-committed version is a no-op returning the current head.
    * This is the ONLY way a replayed foreachBatch applying ADDITIVE
    * deltas (an incremental materialized view) can be exactly-once —
    * plain merge re-adds the delta on replay. */
  def mergeIdempotent(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String], clauses: Seq[MergeClause],
      appId: String, version: Long,
      extraProps: Map[String, String] = Map.empty): Long = {
    val key = s"graft.txn.$appId"
    val snap = state(root)
    if (snap.properties.get(key).map(_.toLong).exists(_ >= version))
      return snap.snapshotId   // already applied
    merge(spark, root, source, keyCols.map(k => (k, k)), clauses,
      extraProps + (key -> version.toString))
  }

  def merge(spark: SparkSession, root: String, source: DataFrame,
      keyPairs: Seq[(String, String)], clauses: Seq[MergeClause])(
      implicit d: DummyImplicit): Long =
    merge(spark, root, source, keyPairs, clauses, Map.empty[String, String])

  private def merge(spark: SparkSession, root: String, source: DataFrame,
      keyPairs: Seq[(String, String)], clauses: Seq[MergeClause],
      commitProps: Map[String, String]): Long = withDmlRetry(root, "merge") {
    if (commitProps.isEmpty && clauses == mergeDefaultClauses &&
        keyPairs.forall(p => p._1.equalsIgnoreCase(p._2)))
      return merge(spark, root, source, keyPairs.map(_._1))
    val p = ckptPlanner(spark, root, None)
    val (schema, props, types) = (p.schema, p.properties, p.types)
    val keyCols = keyPairs.map(_._1)
    require(keyCols.nonEmpty && keyCols.forall(types.contains), s"bad merge keys: $keyCols")
    require(clauses.nonEmpty, "MERGE needs at least one WHEN clause")
    val srcCols = source.columns.toSeq
    require(srcCols.forall(!_.toLowerCase.startsWith("_g")),
      "MERGE source columns may not use the reserved _g prefix")
    require(keyPairs.forall(p => srcCols.exists(_.equalsIgnoreCase(p._2))),
      s"MERGE source lacks key columns: ${keyPairs.collect { case (_, s) if !srcCols.exists(_.equalsIgnoreCase(s)) => s }}")
    val usesStar = clauses.exists {
      case MergeUpdate(_, None) => true
      case MergeInsert(_, None) => true
      case _ => false
    }
    if (usesStar) require(schema.fieldNames.forall(f => srcCols.exists(_.equalsIgnoreCase(f))),
      s"SET * / INSERT * needs every target column in the source; missing: " +
        schema.fieldNames.filterNot(f => srcCols.exists(_.equalsIgnoreCase(f))).mkString(", "))
    clauses.foreach {
      case MergeUpdate(_, Some(set)) =>
        require(set.keySet.subsetOf(schema.fieldNames.toSet),
          s"unknown SET columns: ${set.keySet -- schema.fieldNames}")
      case MergeInsert(_, Some(vals)) =>
        require(vals.keySet.subsetOf(schema.fieldNames.toSet),
          s"unknown INSERT columns: ${vals.keySet -- schema.fieldNames}")
      case MergeUpdateBySource(_, set) =>
        require(set.keySet.subsetOf(schema.fieldNames.toSet),
          s"unknown SET columns: ${set.keySet -- schema.fieldNames}")
      case _ => ()
    }
    // one source pass: cardinality check + pruning bounds together
    // (bounds are computed even when BY SOURCE clauses discard them —
    // they ride the same job for free, the collect row is one row)
    val boundPreds = sourceKeyAnalysis(source, keyPairs, types)
    val bySourceClauses = clauses.collect {
      case u: MergeUpdateBySource => u
      case d: MergeDeleteBySource => d
    }
    // a BY SOURCE clause can change ANY target row: no key-bounds
    // pruning — every live data file is a victim
    val preds = if (bySourceClauses.nonEmpty) Seq.empty else boundPreds
    val (victims, delFiles) = p.files(preds)
    val id = p.targetId + 1
    // presence flags (not key-null checks: a target row may legally
    // carry null keys — it never matches, but it still exists).
    // Names are picked FRESH against the joined frame: create() only
    // reserves _gp_/_gf targets and the _gs_ prefixing maps a source
    // column `_present` onto `_gs__present`, so any fixed name could
    // be clobbered by a legal user column (advisor finding, round 9)
    val takenNames = (schema.fieldNames.toSeq ++ srcCols.map(mergeSourcePrefix + _))
      .map(_.toLowerCase).toSet
    def freshFlag(base: String): String =
      Iterator.iterate(base)(_ + "_").dropWhile(n => takenNames.contains(n.toLowerCase)).next()
    val tPresent = freshFlag("_gt_present")
    val sPresent = freshFlag("_g#s_present")
    val tgt = readFiles(spark, root, schema, victims, delFiles)
      .withColumn(tPresent, lit(true))
    val srcRen = source
      .select(srcCols.map(c => col(c).as(mergeSourcePrefix + c)): _*)
      .withColumn(sPresent, lit(true))
    val joinCond = keyPairs.map { case (tk, sk) =>
      tgt(tk) === srcRen(mergeSourcePrefix + sk)
    }.reduce(_ && _)
    val joined = tgt.join(srcRen, joinCond, "full_outer")
    val matchedClauses = clauses.collect {
      case u: MergeUpdate => u
      case d: MergeDelete => d
    }
    val insertClauses = clauses.collect { case i: MergeInsert => i }
    val isMatched = col(tPresent).isNotNull && col(sPresent).isNotNull
    // first-true-clause fold: when(c1, v1).otherwise(when(c2, v2)...)
    // — a null condition counts false, the SQL rule
    def chain(cs: Seq[(Option[Column], Column)], dflt: Column): Column =
      cs.foldRight(dflt) { case ((c, v), acc) =>
        when(coalesce(c.getOrElse(lit(true)), lit(false)), v).otherwise(acc)
      }
    val keep =
      when(isMatched, chain(matchedClauses.collect {
        case MergeUpdate(c, _) => (c, lit(true))
        case MergeDelete(c) => (c, lit(false))
      }, lit(true)))
      // target-only: BY SOURCE clauses apply in order, else carry over
      .when(col(tPresent).isNotNull, chain(bySourceClauses.collect {
        case MergeUpdateBySource(c, _) => (c, lit(true))
        case MergeDeleteBySource(c) => (c, lit(false))
      }, lit(true)))
      .otherwise(chain(insertClauses.map(ic => (ic.condition, lit(true))), lit(false)))
    def fieldVal(f: StructField): Column = {
      def sCol = col(mergeSourcePrefix + f.name)
      val tCol = col(f.name)
      when(isMatched, chain(matchedClauses.collect {
        case MergeUpdate(c, None) => (c, sCol)
        case MergeUpdate(c, Some(set)) => (c, set.getOrElse(f.name, tCol))
        case MergeDelete(c) => (c, tCol)   // dropped by `keep` anyway
      }, tCol))
      .when(col(tPresent).isNotNull, chain(bySourceClauses.collect {
        case MergeUpdateBySource(c, set) => (c, set.getOrElse(f.name, tCol))
        case MergeDeleteBySource(c) => (c, tCol)   // dropped by `keep` anyway
      }, tCol))
      .otherwise(chain(insertClauses.map {
        case MergeInsert(c, None) => (c, sCol)
        case MergeInsert(c, Some(vals)) => (c, vals.getOrElse(f.name, lit(null)))
      }, lit(null)))   // unmatched-by-any-clause source rows drop via `keep`
      .cast(f.dataType).as(f.name)
    }
    val out = joined.filter(keep)
      .select(schema.fields.map(fieldVal).toIndexedSeq: _*)
    val adds = writeDataFiles(spark, root, out, id, props)
    // full-table rewrite (BY SOURCE clauses, or no derivable key
    // bounds): no surviving file predates this commit, so live delete
    // files and historical column names retire with it
    val dropDeletes = if (preds.isEmpty) delFiles.map(_.path) else Seq.empty
    val (retSchemaJ, retProps) =
      if (preds.isEmpty) retiredNamesMeta(schema, props)
      else (None, Map.empty[String, String])
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "merge", adds, victims.map(_.path) ++ dropDeletes, retProps ++ commitProps, retSchemaJ))
  }

  // ── read / time travel / pruning ────────────────────────────────────

  /** The table's current schema from the snapshot log — metadata only,
    * no scan construction. */
  def tableSchema(root: String): StructType = state(root).schema

  /** Snapshot read; `asOf` = time travel (reference:
    * SPARK_ICEBERG_GUIDE.md §8.8). */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame = {
    val snap = state(root, asOf)
    readFiles(spark, root, snap.schema, snap.files.filter(_.isData), snap.files.filter(_.isDelete))
  }

  // ── row lineage (`_row_id`, the Iceberg v3 design) ──────────────────

  private[lake] val rowIdPhys = StructField("_gf_row_id", LongType, nullable = true)

  /** Attach each row's lineage id given its source file's FileEntry:
    * inherited (firstRowId + position) for plainly-written files, the
    * materialized `_gf_row_id` physical column for rewrite outputs
    * (firstRowId == -1), NULL for pre-lineage files. The per-file
    * dispatch is a broadcast join of `m` (basename `_gf_lin_name` →
    * `_gf_first`, plus any columns to carry onto every row) on the
    * unique file basename — the same O(files) metadata the read
    * already planned with. */
  private def withLineageCol(df: DataFrame, m: DataFrame): DataFrame =
    // substring_index, not a regexp: "([^/]+)$" backtracks across the
    // whole path per ROW, and this column is on every rewrite/lineage
    // read's hot path (measured 4.6 s → 1.9 s on q26's bin rewrite)
    df.withColumn("_gf_lin_name", substring_index(col("_gf_path"), "/", -1))
      .join(broadcast(m), Seq("_gf_lin_name"), "left")
      .withColumn("_gf_row_id",
        when(col("_gf_first") === lit(-1L), col("_gf_row_id"))
          .when(col("_gf_first").isNotNull, col("_gf_first") + col("_gf_pos"))
          .otherwise(lit(null).cast(LongType)))
      .drop("_gf_lin_name", "_gf_first")

  /** Read a file set with the `_gf_row_id` lineage column attached —
    * the rewrite paths' input reader (identity survives compaction
    * because the rewrite WRITES this column back out). Rides the MoR
    * core even with no deletes: lineage needs row positions.
    * `spark.graft.row-lineage.rewrite=false` is the session kill
    * switch back to the plain (identity-losing) rewrite read. */
  private def readFilesWithLineage(spark: SparkSession, root: String,
      schema: StructType, files: Seq[FileEntry], deletes: Seq[FileEntry]): DataFrame = {
    val data = files.filter(_.isData)
    if (data.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(schema.fields :+ rowIdPhys))
    val core = liveRowsWithIds(spark, root, schema, data, deletes, extraPhys = Seq(rowIdPhys))
    import spark.implicits._
    val m = data.map(f => (f.path.split('/').last, f.firstRowId))
      .toDF("_gf_lin_name", "_gf_first")
    withLineageCol(core, m).drop("_gf_path", "_gf_pos", "_gf_snap")
  }

  private[lake] def lineageRewriteEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.row-lineage.rewrite", "true").toBoolean

  /** Rewrite-input reader: with lineage (default) or plain when the
    * kill switch is off — rewritten rows then lose their ids (entries
    * stay unstamped → readers report NULL, never a wrong id). */
  private def readFilesForRewrite(spark: SparkSession, root: String,
      schema: StructType, files: Seq[FileEntry], deletes: Seq[FileEntry]): DataFrame =
    if (lineageRewriteEnabled(spark)) readFilesWithLineage(spark, root, schema, files, deletes)
    else readFiles(spark, root, schema, files, deletes)

  /** Bin-pack compaction's input on the native reader: each bin is one
    * input partition of the bin scan ([[GraftBinScanProvider]]), the
    * bin's whole files in bin-pack order, so each task reads exactly
    * one bin in source (file, position) order. Deletes and lineage
    * apply inside the reader; `_row_id` comes back as `_gf_row_id`
    * unless the lineage kill switch is off (the outputs then stay
    * unstamped). `positions` adds each row's file ordinal in its bin
    * and its row index (`_gf_ord`, `_gf_pos`). */
  private def readBins(spark: SparkSession, root: String, snap: Snapshot,
      bins: Seq[Seq[FileEntry]], positions: Boolean): DataFrame = {
    val raw = spark.read.format(classOf[GraftBinScanProvider].getName)
      .options(GraftBinScanProvider.options(root, snap.snapshotId, bins.map(_.map(_.path))))
      .load()
    val extra =
      (if (lineageRewriteEnabled(spark)) Seq(col("_row_id").as(rowIdPhys.name)) else Nil) ++
        (if (positions) GraftBinScanProvider.positionCols.map(col) else Nil)
    raw.select(snap.schema.fieldNames.toSeq.map(col) ++ extra: _*)
  }

  /** Bin-pack compaction's input for the snapshots the native reader
    * declines (non-hashable or oversized equality-delete keys,
    * ambiguous renames, `spark.graft.native-scan.mor.enabled=false`):
    * every bin's files in ONE V1 MoR read (deletes apply as anti-joins,
    * once for all bins), each row tagged with its bin (`_gf_bin`,
    * zero-padded so bin directories list in bin order) and its source
    * order (`_gf_ord`, the file's place in bin-pack order, then
    * `_gf_pos`). The tags ride the lineage join's broadcast map, so
    * binning costs no extra join; a shuffle on `_gf_bin` then puts each
    * bin in one task. With the lineage kill switch off, `_gf_row_id` is
    * dropped and the outputs stay unstamped. */
  private def readBinsForRewrite(spark: SparkSession, root: String,
      schema: StructType, bins: Seq[Seq[FileEntry]], deletes: Seq[FileEntry]): DataFrame = {
    import spark.implicits._
    val w = (bins.size - 1).toString.length
    val files = bins.zipWithIndex.flatMap { case (b, i) => b.map(_ -> s"%0${w}d".format(i)) }
    val core = liveRowsWithIds(spark, root, schema, files.map(_._1), deletes,
      extraPhys = Seq(rowIdPhys))
    val m = files.zipWithIndex.map { case ((f, bin), ord) =>
      (f.path.split('/').last, f.firstRowId, bin, ord)
    }.toDF("_gf_lin_name", "_gf_first", "_gf_bin", "_gf_ord")
    val tagged = withLineageCol(core, m).drop("_gf_path", "_gf_snap")
    if (lineageRewriteEnabled(spark)) tagged else tagged.drop(rowIdPhys.name)
  }

  private def stampRewriteAdds(spark: SparkSession, adds: Seq[FileEntry]): Seq[FileEntry] =
    if (lineageRewriteEnabled(spark)) adds.map(f => f.copy(firstRowId = Some(-1L)))
    else adds

  /** The table read plus a `_row_id` metadata column (Iceberg v3 row
    * lineage): a stable per-row identity that survives compaction and
    * re-sorting (rewrites materialize it), assigned when rows enter
    * main lineage. Files written before the feature read NULL. */
  def readWithRowIds(spark: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame =
    readWithRowIdsPruned(spark, root, asOf, Seq.empty)

  /** readWithRowIds with stats/partition FILE pruning on `preds` —
    * the SQL metadata-column scan's entry point (predicates are still
    * re-applied row-wise above; pruning only shrinks the file list). */
  private[lake] def readWithRowIdsPruned(spark: SparkSession, root: String,
      asOf: Option[Long], preds: Seq[Pred]): DataFrame = {
    val p = snapshotPlanner(state(root, asOf))
    val (data, deletes) = p.files(preds)
    readFilesWithLineage(spark, root, p.schema, data, deletes)
      .withColumnRenamed("_gf_row_id", "_row_id")
  }

  /** Simple comparison predicate for stats pruning. Values are text:
    * numbers in decimal, dates ISO, timestamps as epoch-MICROS,
    * strings raw (compared as UTF-8 bytes). Hand-built decimal values
    * should be representable in the column's decimal type (everything
    * extractPreds/toPred emit is, via the analyzer's cast): a wider
    * literal still returns correct rows, but the distributed planner
    * keeps files the driver planner would prune (see predCond). */
  sealed trait Pred { def colName: String }
  case class Gt(colName: String, v: String) extends Pred
  case class Lt(colName: String, v: String) extends Pred
  case class Eq(colName: String, v: String) extends Pred
  case class Ge(colName: String, v: String) extends Pred
  case class Le(colName: String, v: String) extends Pred
  /** Null-membership predicates prune on the per-file null COUNT
    * (stats carry nulls alongside min/max): an all-null file fails
    * IS NOT NULL, a zero-null file fails IS NULL. Spark pushes
    * IsNotNull with every comparison filter, so at 100 TB this skips
    * sparse columns' empty files for free. */
  case class NotNull(colName: String) extends Pred
  case class IsNull(colName: String) extends Pred

  /** Resolve a Column predicate against the table schema and return
    * its catalyst expression (public-API route: analyze a filter over
    * an empty frame of the schema). */
  private def conditionExpr(spark: SparkSession, schema: StructType,
      condition: Column): org.apache.spark.sql.catalyst.expressions.Expression = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    empty.filter(condition).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
  }

  /** Extract stats-comparable conjuncts from a Column predicate —
    * comparisons of a plain column against a literal. Anything else
    * (OR trees, expressions over columns, UDFs) contributes no prune
    * but stays in the residual filter, so pruning is best-effort and
    * never affects results. */
  private[graft] def extractPreds(e: org.apache.spark.sql.catalyst.expressions.Expression,
      types: Map[String, DataType]): Seq[Pred] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.{IsNull => CIsNull}
    def renderLit(l: Literal, dt: DataType): Option[String] = (l.value, dt) match {
      case (null, _) => None
      case (v: Int, DateType) => Some(java.time.LocalDate.ofEpochDay(v.toLong).toString)
      case (v: Long, TimestampType | TimestampNTZType) => Some(v.toString)  // micros
      case (v, _) => Some(v.toString)   // numbers, UTF8String
    }
    def attr(x: Expression): Option[String] = x match {
      case a: Attribute if types.contains(a.name) => Some(a.name)
      case _ => None
    }
    // the analyzer widens a narrower literal by wrapping it in a Cast
    // (`id < 5` on a bigint column is `id < cast(5 as bigint)` at the
    // analyzed stage we extract from — constant folding runs later).
    // Fold any foldable literal side here, or the everyday unsuffixed
    // literal silently loses ALL file pruning — a table scan at 100 TB.
    // Widening casts can't change the value, and a throwing eval
    // (ANSI overflow) just declines the prune.
    def asLit(x: Expression): Option[Literal] = x match {
      case l: Literal => Some(l)
      case c if c.foldable =>
        scala.util.Try(Literal.create(c.eval(), c.dataType)).toOption
      case _ => None
    }
    def cmp2(x: Expression, y: Expression, mk: (String, String) => Pred,
        flipped: (String, String) => Pred): Seq[Pred] =
      (attr(x), asLit(y)) match {
        case (Some(n), Some(l)) => renderLit(l, types(n)).map(mk(n, _)).toSeq
        case _ => (attr(y), asLit(x)) match {
          case (Some(n), Some(l)) => renderLit(l, types(n)).map(flipped(n, _)).toSeq
          case _ => Seq.empty
        }
      }
    e match {
      case And(l, r) => extractPreds(l, types) ++ extractPreds(r, types)
      case GreaterThan(a, b) => cmp2(a, b, Gt.apply, Lt.apply)
      case LessThan(a, b) => cmp2(a, b, Lt.apply, Gt.apply)
      case EqualTo(a, b) => cmp2(a, b, Eq.apply, Eq.apply)
      case GreaterThanOrEqual(a, b) => cmp2(a, b, Ge.apply, Le.apply)
      case LessThanOrEqual(a, b) => cmp2(a, b, Le.apply, Ge.apply)
      // catalyst's IsNull collides with the Pred class of the same
      // name — matched under a rename, constructed qualified
      case IsNotNull(x) => attr(x).map(GraftTable.NotNull.apply).toSeq
      case CIsNull(x) => attr(x).map(GraftTable.IsNull.apply).toSeq
      case _ => Seq.empty
    }
  }

  /** Unsigned UTF-8 byte comparison — the order parquet computes
    * binary min/max under (and the order Spark's UTF8String uses), so
    * pruning decisions agree with how the bounds were produced. */
  private[lake] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }

  private def cmp(dt: DataType, a: String, b: String): Int = dt match {
    case IntegerType | LongType | ShortType | ByteType |
         TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case DoubleType | FloatType => java.lang.Double.compare(a.toDouble, b.toDouble)
    case StringType => utf8Cmp(a, b)
    // decimal TEXT inverts numeric order ('125.00' < '9.00' as text) —
    // compare as exact numerics; also unifies scales ('9' == '9.00')
    case _: DecimalType =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => a.compareTo(b)   // DateType: ISO text is chronological
  }

  /** Per-schema stat-resolution context for the pruning planners:
    * `byCol` maps a live logical name onto every physical name a data
    * file may carry it under (itself + historical names, newest
    * first) — files written before a rename store their stats under
    * the old physical name, and resolving through this map keeps
    * pruning power over the table's entire pre-rename history.
    * `everFloat` holds double columns widened from float: their
    * pre-widen files rendered stats via Float.toString, so the
    * planners must bound that text under BOTH renderings. */
  private[lake] case class StatAliases(byCol: Map[String, Seq[String]],
      everFloat: Set[String]) {
    def names(c: String): Seq[String] = byCol.getOrElse(c, Seq(c))
  }
  private[lake] object StatAliases {
    val empty: StatAliases = StatAliases(Map.empty, Set.empty)
  }

  private def statAliases(schema: StructType): StatAliases = StatAliases(
    schema.fields.iterator
      .filter(f => prevNames(f).nonEmpty)
      .map(f => f.name -> (f.name +: prevNames(f).reverse))
      .toMap,
    schema.fields.iterator
      .filter(f => f.dataType == DoubleType && f.metadata.contains(wasFloatKey))
      .map(_.name).toSet)

  /** Can this file's [min,max] stats possibly satisfy every predicate?
    * `aliases` maps a predicate's live column name onto its historical
    * physical names — each file carries stats under exactly one of
    * them. For ever-float columns the stored text denotes either
    * `s.toDouble` (post-widen file) or `(double) s.toFloat` (pre-widen
    * file; Float.toString round-trips, so that value is exact) — the
    * min/max over both readings is an exact-conservative bound, and the
    * predicate literal gets the same two-way treatment because
    * rewrite-planning predicates are themselves built from stat text. */
  private def mayMatch(types: Map[String, DataType], preds: Seq[Pred],
      aliases: StatAliases = StatAliases.empty)(f: FileEntry): Boolean =
    preds.forall { p =>
      aliases.names(p.colName).iterator.flatMap(f.stats.get).nextOption() match {
        case None => true  // no stats → cannot prune
        case Some(st) =>
          val dt = types(p.colName)
          p match {
            // null-membership: the null COUNT decides, min/max don't.
            // -1 records an UNKNOWN count (stats-dropped chunk):
            // never prune on it — only a known all-null file fails
            // IS NOT NULL, only a known zero fails IS NULL. Caveat:
            // manifests written before the -1 sentinel existed
            // clamped unknown to 0 and can't be told apart from a
            // genuine zero; tables in this repo's lifecycle are
            // always freshly written, but a real migration would
            // rewrite pre-sentinel manifests before trusting IS NULL
            // pruning on them.
            case NotNull(_) => !(f.records > 0 && st.nulls >= f.records)
            case IsNull(_) => st.nulls != 0
            case _ if aliases.everFloat.contains(p.colName) =>
              def lo(s: String) = math.min(s.toDouble, s.toFloat.toDouble)
              def hi(s: String) = math.max(s.toDouble, s.toFloat.toDouble)
              (p, st.min, st.max) match {
                case (Gt(_, v), _, Some(mx)) => hi(mx) > lo(v)
                case (Lt(_, v), Some(mn), _) => lo(mn) < hi(v)
                case (Ge(_, v), _, Some(mx)) => hi(mx) >= lo(v)
                case (Le(_, v), Some(mn), _) => lo(mn) <= hi(v)
                case (Eq(_, v), Some(mn), Some(mx)) =>
                  lo(mn) <= hi(v) && hi(mx) >= lo(v)
                case _ => true
              }
            case _ => (p, st.min, st.max) match {
              case (Gt(_, v), _, Some(mx)) => cmp(dt, mx, v) > 0
              case (Lt(_, v), Some(mn), _) => cmp(dt, mn, v) < 0
              case (Ge(_, v), _, Some(mx)) => cmp(dt, mx, v) >= 0
              case (Le(_, v), Some(mn), _) => cmp(dt, mn, v) <= 0
              case (Eq(_, v), Some(mn), Some(mx)) =>
                cmp(dt, mn, v) <= 0 && cmp(dt, mx, v) >= 0
              case _ => true
            }
          }
      }
    }

  /** Partition-value pruning: a file's partition tuple holds for EVERY
    * row, so the check is exact per transform — identity and the time
    * buckets (days/months/years/hours) support range predicates,
    * bucket/truncate equality only. Columns without a transform (or
    * files predating the spec) never prune here. */
  private def mayMatchPartition(types: Map[String, DataType], spec: Seq[PTransform],
      preds: Seq[Pred])(f: FileEntry): Boolean = {
    val pv = f.partitionValues
    preds.forall { p =>
      spec.filter(_.col == p.colName).forall { t =>
        pv.get(t.label) match {
          case None => true                    // file predates the spec
          case Some(v) if v == nullPart =>
            // Spark's partitioned writer renders BOTH NULL and the
            // empty string as this sentinel. For a string-producing
            // transform (identity/truncate over a string column) the
            // two are indistinguishable from the directory name, so
            // the file may hold rows with c = '' that match — don't
            // prune. For every other transform output ('' can't
            // occur) the sentinel is a genuine NULL: no comparison
            // (and no IS NOT NULL) matches, prune; IS NULL matches.
            p match {
              case IsNull(_) => true
              case _ => t match {
                case PIdentity(_) | PTruncate(_, _)
                  if types(p.colName) == StringType => true
                case _ => false
              }
            }
          case Some(_) if p.isInstanceOf[IsNull] =>
            // a non-sentinel tuple value means the source column is
            // non-null for every row in the file: IS NULL is empty
            false
          case Some(_) if p.isInstanceOf[NotNull] => true
          case Some(v) =>
            val dt = types(p.colName)
            t match {
              case PIdentity(_) => p match {
                case Eq(_, x) => cmp(dt, v, x) == 0
                case Gt(_, x) => cmp(dt, v, x) > 0
                case Lt(_, x) => cmp(dt, v, x) < 0
                case Ge(_, x) => cmp(dt, v, x) >= 0
                case Le(_, x) => cmp(dt, v, x) <= 0
                case _: NotNull | _: IsNull => true   // intercepted above
              }
              case tb if isTimeBucket(tb) => transformLit(t, dt, predValue(p)) match {
                case None => true
                case Some(d) => p match {       // v, d are same-width ISO-prefix text
                  case Eq(_, _) => v == d       // (lexicographic = chronological)
                  case Gt(_, _) | Ge(_, _) => v >= d   // conservative bucket-granularity bound
                  case Lt(_, _) | Le(_, _) => v <= d
                  case _: NotNull | _: IsNull => true   // intercepted above
                }
              }
              case _ => p match {               // bucket/truncate: equality only
                case Eq(_, x) => transformLit(t, dt, x).forall(_ == v)
                case _ => true
              }
            }
        }
      }
    }
  }

  /** Combined metadata pruning for data files: partition tuple first
    * (exact, cheapest), then per-file min/max stats. Partition specs
    * never need aliases — requireEvolvable forbids renaming a
    * partition-source column. Each file is pruned under ITS OWN spec
    * (per-file spec-id dispatch), so after spec evolution the old
    * cohort keeps pruning exactly on its old transforms — a days(ts)
    * file still drops on a ts predicate after the table moved to
    * bucket(16,id). */
  private def prunedData(types: Map[String, DataType],
      specs: IndexedSeq[Seq[PTransform]],
      preds: Seq[Pred], files: Seq[FileEntry],
      aliases: StatAliases = StatAliases.empty): Seq[FileEntry] =
    files.filter(f => f.isData &&
      mayMatchPartition(types, specForFile(specs, f), preds)(f) &&
      mayMatch(types, preds, aliases)(f))

  /** True when any field carries historical physical names (a rename
    * happened at or before this snapshot's schema). */
  private[lake] def hasRenames(schema: StructType): Boolean =
    schema.fields.exists(f => prevNames(f).nonEmpty)

  /** The schema to REQUEST from parquet: every logical field plus its
    * historical physical names (files written pre-rename carry those;
    * parquet null-fills whichever of the names a file lacks). */
  private[lake] def physReadSchema(schema: StructType): StructType =
    StructType(schema.fields ++ schema.fields.flatMap(f =>
      prevNames(f).map(h => StructField(h, f.dataType, nullable = true))))

  /** Physical → logical projection: each renamed column coalesces over
    * (current name, historical names newest-first). Every file
    * physically contains exactly one of the names, so this is exact,
    * not a heuristic. `keep` columns (MoR row-identity) pass through. */
  private[lake] def logicalProject(df: DataFrame, schema: StructType,
      keep: Seq[String] = Seq.empty): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      val hs = prevNames(f)
      if (hs.isEmpty) col(f.name)
      else coalesce((f.name +: hs.reverse).map(col): _*).as(f.name)
    } ++ keep.map(col): _*)

  /** Read a set of data files, applying the snapshot's delete files
    * (merge-on-read, [[liveRowsWithIds]]). With no delete files this
    * is a plain parquet scan (the fast path — no extra columns, no
    * join). */
  private def readFiles(spark: SparkSession, root: String, schema: StructType,
      files: Seq[FileEntry], deletes: Seq[FileEntry]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else if (deletes.isEmpty) {
      val paths = files.map(_.path)
      val (remote, opts) = prepareV1Read(root, paths)
      val raw = spark.read.options(opts).schema(physReadSchema(schema))
        .parquet(paths.map(p => remote.getOrElse(p, s"$root/$p")): _*)
      if (hasRenames(schema)) logicalProject(raw, schema) else raw
    }
    else liveRowsWithIds(spark, root, schema, files, deletes)
      .drop("_gf_path", "_gf_pos", "_gf_snap")

  /** The MoR read core: data rows with their (_gf_path, _gf_pos,
    * _gf_snap) identity columns, all delete files already applied.
    * Position deletes (content 1) and deletion-vector containers
    * (content 3) anti-join on (file, row ordinal); equality deletes
    * (content 2) anti-join null-safely on their key columns, restricted
    * to data files whose snapshot-id name prefix is below the delete's
    * — later appends are NOT affected (the Iceberg sequence-number
    * rule). */
  private def liveRowsWithIds(spark: SparkSession, root: String, schema: StructType,
      files: Seq[FileEntry], deletes: Seq[FileEntry],
      extraPhys: Seq[StructField] = Seq.empty): DataFrame = {
    val dataPaths = files.map(_.path)
    val (remote, opts) = prepareV1Read(root, dataPaths, deletes.map(_.path))
    val posD = deletes.filter(_.content.contains(1))
    val dvD = deletes.filter(_.content.contains(3))
    val eqD = deletes.filter(_.content.contains(2))
    var df = spark.read.options(opts)
      .schema(StructType(physReadSchema(schema).fields ++ extraPhys))
      .parquet(dataPaths.map(p => remote.getOrElse(p, s"$root/$p")): _*)
      .withColumn("_gf_path", col("_metadata.file_path"))
      .withColumn("_gf_pos", col("_metadata.row_index"))
      // anchored regexp over the short file NAME, not the full path:
      // the unanchored path form backtracked per row and dominated
      // single-task rewrite reads (same match set — graft file names
      // never contain '/')
      .withColumn("_gf_snap",
        regexp_extract(col("_metadata.file_name"), "^(\\d{10})-[^/]*\\.parquet$", 1)
          .cast("long"))
    // rename mapping applies BEFORE the delete joins (the _gf_* row
    // identity is already materialized from _metadata, which a
    // projection would otherwise hide)
    if (hasRenames(schema))
      df = logicalProject(df, schema,
        keep = Seq("_gf_path", "_gf_pos", "_gf_snap") ++ extraPhys.map(_.name))
    if (posD.nonEmpty || dvD.nonEmpty) {
      // join on the unique file NAME (snapshotId-idx-uuid.parquet), not
      // the absolute URI the delete file recorded: renameTable moves the
      // table directory, and a URI match would silently stop applying
      // live deletes after a rename (rewritePositionDeletes already
      // matches by name for the same reason). Deletion-vector
      // containers (content=3) explode to the same (name, pos) shape
      // executor-side and union in — one anti-join either way.
      val baseName = (c: Column) => substring_index(c, "/", -1)
      val posPart = Option.when(posD.nonEmpty)(
        spark.read.schema(posDeleteSchema).parquet(posD.map(d => s"$root/${d.path}"): _*)
          .select(baseName(col("file_path")).as("_gf_name"), col("pos").as("_gf_pos")))
      val dvPart = Option.when(dvD.nonEmpty)(
        GraftDv.positionsDf(spark, dvD.map(d => s"$root/${d.path}"), "_gf_name", "_gf_pos"))
      val del = (posPart.toSeq ++ dvPart).reduce(_.unionByName(_))
        .distinct()   // re-deleting an already-deleted row is a no-op
      df = df.withColumn("_gf_name", baseName(col("_gf_path")))
        .join(del, Seq("_gf_name", "_gf_pos"), "left_anti")
        .drop("_gf_name")
    }
    // eq-delete key columns are the at-WRITE physical names. Live
    // delete files always key on live columns (requireEvolvable blocks
    // rename/drop under them), but a CDC read of a historical commit
    // under the END schema can meet an eq-delete whose key was later
    // renamed (translate through prev-names — the data side already
    // coalesced to the live name) or dropped (no live column carries
    // the values: fail loudly rather than mis-apply the delete)
    val prevToLive: Map[String, String] = schema.fields.flatMap(f =>
      prevNames(f).map(h => h.toLowerCase -> f.name)).toMap
    // one anti-join per (snapshot, key-columns) GROUP, not per file: a
    // sharded equality delete commits many key files at one snapshot,
    // and joining them file-by-file would stack O(shards) anti-joins
    // into the plan — same sequence bound + same keys = one union read
    eqD.groupBy(d => (d.snapshotOfName, d.eqCols.getOrElse(Seq.empty)))
      .toSeq.sortBy { case ((snapId, cols), _) => (snapId, cols.mkString(",")) }
      .foreach { case ((snapId, cols), group) =>
        val liveCols = cols.map { c =>
          schema.fieldNames.find(_.equalsIgnoreCase(c))
            .orElse(prevToLive.get(c.toLowerCase))
            .getOrElse(throw new IllegalArgumentException(
              s"equality-delete file(s) ${group.map(_.path).mkString(", ")} key on " +
                s"'$c', which is not in the read schema (dropped after the delete " +
                "was written); narrow the change range to end before the DROP " +
                "COLUMN, or run rewrite_equality_deletes before dropping " +
                "delete-key columns"))
        }
        // one commit wrote the group's key files: one driver footer read
        // gives their at-write key types (never the read schema's — a
        // key written as INT stays INT after a widening), and the read
        // then runs no schema-inference job
        val paths = group.map(f => s"$root/${f.path}")
        val keys = spark.read.schema(parquetSchema(spark, paths.head)).parquet(paths: _*)
          .select(cols.map(c => col(c).as(s"_gfk_$c")): _*).distinct()
        val cond = cols.zip(liveCols).map { case (c, lc) =>
          df(lc) <=> keys(s"_gfk_$c") }.reduce(_ && _) &&
          df("_gf_snap") < lit(snapId)
        df = df.join(keys, cond, "left_anti")
      }
    df
  }

  /** The driver planner's surviving data files under `preds` — the
    * exact prune scan()/readWhere()/DML use. Package-visible so the
    * property-based cross-check (PruningPropertySpec) can assert the
    * pruned file set covers every matching row without a Spark job
    * per generated case. */
  private[graft] def liveDataFiles(root: String, preds: Seq[Pred]): Seq[FileEntry] =
    snapshotPlanner(state(root)).files(preds)._1

  /** Test-only twin of the readWhere predicate extraction: analyze a
    * Column against `schema` and extract the stats-text conjuncts. */
  private[graft] def predsOf(spark: SparkSession, schema: StructType,
      condition: Column): Seq[Pred] =
    extractPreds(conditionExpr(spark, schema, condition),
      schema.fields.map(f => f.name -> f.dataType).toMap)

  /** File-skipping scan: drop files whose [min,max] cannot satisfy the
    * predicates, then let Spark push the same predicates into the
    * surviving parquet footers. This is the metadata-level partition/
    * stats pruning Iceberg manifests provide — at 100 TB it's the
    * difference between listing a few files and scanning a lake. */
  def scan(spark: SparkSession, root: String, preds: Seq[Pred],
      asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    val plan = scanWith(spark, root, snapshotPlanner(state(root, asOf)), preds)
    (plan.df, plan.totalFiles.toInt, plan.liveFiles.toInt)
  }

  /** The pruned, delete-applied, predicate-filtered read `p` plans. */
  private def scanWith(spark: SparkSession, root: String, p: FilePlanner,
      preds: Seq[Pred]): ScanPlan = {
    val (live, deletes) = p.files(preds)
    ScanPlan(applyPreds(readFiles(spark, root, p.schema, live, deletes), p.types, preds),
      p.totalData, live.size.toLong, p.distributed)
  }

  /** Apply the predicates as real row filters on the pruned scan, so
    * Spark pushes them into the surviving parquet footers too. */
  private def applyPreds(df: DataFrame, types: Map[String, DataType],
      preds: Seq[Pred]): DataFrame =
    preds.foldLeft(df) { (d, p) =>
      val c = col(p.colName)
      p match {
        case _: NotNull => d.filter(c.isNotNull)
        case _: IsNull => d.filter(c.isNull)
        case _ =>
          val raw = predValue(p)
          // timestamp predicate values are epoch-micros (matching the
          // footer-stats rendering); everything else casts from text
          val v = types(p.colName) match {
            case TimestampType => timestamp_micros(lit(raw.toLong))
            // NTZ via a LocalDateTime literal — session-TZ-independent
            // (an LTZ cast would shift by the session zone)
            case TimestampNTZType =>
              val m = raw.toLong
              lit(java.time.LocalDateTime.ofEpochSecond(
                Math.floorDiv(m, 1000000L), (Math.floorMod(m, 1000000L) * 1000L).toInt,
                java.time.ZoneOffset.UTC))
            case dt => lit(raw).cast(dt)
          }
          p match {
            case _: Gt => d.filter(c > v)
            case _: Lt => d.filter(c < v)
            case _: Eq => d.filter(c === v)
            case _: Ge => d.filter(c >= v)
            case _: Le => d.filter(c <= v)
            case _: NotNull | _: IsNull => d   // handled above
          }
      }
    }

  private def predValue(p: Pred): String = p match {
    case Gt(_, x) => x; case Lt(_, x) => x; case Eq(_, x) => x
    case Ge(_, x) => x; case Le(_, x) => x
    case _: NotNull | _: IsNull => ""   // null preds carry no value
  }

  // ── distributed scan planning ───────────────────────────────────────

  /** The pruning predicate (stats bounds + partition tuple) as a
    * Column over a checkpoint file-list row — the executor-side twin
    * of mayMatch/mayMatchPartition. Spark compares strings in UTF-8
    * binary order (same as utf8Cmp) and the numeric casts mirror
    * cmp()'s type dispatch, so both planners prune identically.
    * Takes the full spec HISTORY: each checkpoint row dispatches on
    * its own `specId` column (specForFile's executor twin), so a
    * mixed-spec table prunes each cohort under the spec that wrote
    * it. */
  private def predCond(types: Map[String, DataType],
      specs: IndexedSeq[Seq[PTransform]],
      p: Pred, aliases: StatAliases = StatAliases.empty): Column = {
    val dt = types(p.colName)
    def castv(c: Column): Column = dt match {
      // every integral width: decimal TEXT is not order-consistent
      // with the value ("17" > "5"), so compare numerically
      case IntegerType | LongType | ShortType | ByteType |
           TimestampType | TimestampNTZType => c.cast("long")
      case DoubleType | FloatType => c.cast("double")
      // DecimalType text inverts under string order too — compare at
      // max precision with the column's scale: tuple text (rendered
      // FROM the column type) always fits, and a predicate literal
      // fits up to 38-scale integer digits, matching the driver's
      // unbounded BigDecimal compare for any literal the analyzer can
      // produce. A wider hand-built literal yields null, which the
      // identity branch below keeps conservatively (under-prune only).
      case d: DecimalType => c.cast(DecimalType(38, d.scale))
      case _ => c   // strings: binary order; ISO dates: lexicographic
    }
    // lazily: null-membership preds carry no value, and no branch
    // that handles them ever touches these literals
    lazy val raw = predValue(p)
    // a file carries stats under exactly one of the column's physical
    // names (see statAliases) — coalesce resolves whichever it has
    val st = aliases.names(p.colName)
      .map(n => col("stats").getItem(n)) match {
        case Seq(one) => one
        case many => coalesce(many: _*)
      }
    // ever-float double columns: stat/literal text may be float- OR
    // double-rendered; bound under both readings (mayMatch's twin)
    val everFloat = aliases.everFloat.contains(p.colName)
    def loV(c: Column): Column =
      if (everFloat) least(c.cast("double"), c.cast("float").cast("double"))
      else castv(c)
    def hiV(c: Column): Column =
      if (everFloat) greatest(c.cast("double"), c.cast("float").cast("double"))
      else castv(c)
    val mn = loV(st.getField("min"))
    val mx = hiV(st.getField("max"))
    lazy val vLo = loV(lit(raw))
    lazy val vHi = hiV(lit(raw))
    val statsOk: Column = p match {
      case _: Gt => mx.isNull || mx > vLo
      case _: Lt => mn.isNull || mn < vHi
      case _: Ge => mx.isNull || mx >= vLo
      case _: Le => mn.isNull || mn <= vHi
      case _: Eq => (mn.isNull || mn <= vHi) && (mx.isNull || mx >= vLo)
      // null-membership: the null COUNT decides (mayMatch's twin);
      // -1 = unknown count, prunable by neither side
      case _: NotNull =>
        !(col("records") > lit(0L) && st.getField("nulls") >= col("records"))
      case _: IsNull => st.getField("nulls") =!= lit(0L)
    }
    // coalesce: an undecidable stats compare (corrupt or
    // unparseable stat text failing a cast) keeps the file instead
    // of null-propagating into a prune — the driver twin would throw
    // loudly there; the executor side degrades to a wider scan
    val statsCond = when(st.isNull, lit(true)).otherwise(coalesce(statsOk, lit(true)))
    // partition tuples: exact compare — widenColumn refuses
    // float→double on layout columns, so everFloat never applies here
    lazy val v = castv(lit(raw))
    def partCondsFor(spec: Seq[PTransform]): Seq[Column] =
      spec.filter(_.col == p.colName).map { t =>
      val pv = col("partition").getItem(t.label)
      // string-typed transform outputs render NULL and '' as the same
      // sentinel — those files can never be pruned by null-membership
      // or comparison preds (mayMatchPartition's ambiguity rule)
      val stringAmbiguous = t match {
        case PIdentity(_) | PTruncate(_, _) if dt == StringType => true
        case _ => false
      }
      p match {
        case _: IsNull =>
          // only the sentinel tuple may hold nulls; a missing label
          // means the file predates the spec — keep
          when(pv.isNull, lit(true)).otherwise(pv === lit(nullPart))
        case _: NotNull =>
          when(pv.isNull, lit(true))
            .when(pv === lit(nullPart), lit(stringAmbiguous))
            .otherwise(lit(true))
        case _ =>
          val cond: Column = t match {
            case PIdentity(_) =>
              val pvv = castv(pv)
              p match {
                case _: Eq => pvv === v
                case _: Gt => pvv > v
                case _: Lt => pvv < v
                case _: Ge => pvv >= v
                case _: Le => pvv <= v
                case _: NotNull | _: IsNull => lit(true)   // handled above
              }
            case tb if isTimeBucket(tb) => transformLit(t, dt, raw) match {
              case None => lit(true)
              case Some(d) => p match {
                case _: Eq => pv === lit(d)
                case _: Gt | _: Ge => pv >= lit(d)
                case _: Lt | _: Le => pv <= lit(d)
                case _: NotNull | _: IsNull => lit(true)   // handled above
              }
            }
            case _ => p match {   // bucket/truncate: equality only
              case _: Eq => transformLit(t, dt, raw).map(b => pv === lit(b)).getOrElse(lit(true))
              case _ => lit(true)
            }
          }
          // coalesce: an undecidable compare (a cast in castv returned
          // null — e.g. a literal outside the column's decimal range)
          // keeps the file instead of null-propagating into a prune
          when(pv.isNull, lit(true))
            .when(pv === lit(nullPart), lit(stringAmbiguous))
            .otherwise(coalesce(cond, lit(true)))
      }
    }
    def andAll(cs: Seq[Column]): Column =
      cs.reduceOption(_ && _).getOrElse(lit(true))
    // per-row spec dispatch (specForFile's executor twin): a CASE on
    // the row's specId selects the conjuncts of the spec that wrote
    // the file; an absent/null stamp is spec 0, an out-of-range stamp
    // clamps to the last (current) spec. Never-evolved tables (the
    // common case — a one-entry history) skip the CASE entirely, so
    // the pre-evolution plan shape is unchanged.
    val partCond: Column =
      if (specs.size <= 1)
        andAll(partCondsFor(specs.headOption.getOrElse(Seq.empty)))
      else {
        val sid = coalesce(col("specId"), lit(0))
        specs.init.zipWithIndex.foldRight(andAll(partCondsFor(specs.last))) {
          case ((sp, i), acc) => when(sid === lit(i), andAll(partCondsFor(sp))).otherwise(acc)
        }
      }
    statsCond && partCond
  }

  /** Read only enough data files to cover `n` rows (manifest record
    * counts), in path order — the file-subset side of a pushed LIMIT.
    * Caller must ensure the table has no delete files (counts would be
    * upper bounds) and must still apply its own limit above. */
  private[lake] def readFirstFiles(spark: SparkSession, root: String, n: Long,
      asOf: Option[Long] = None): DataFrame = {
    val snap = state(root, asOf)
    var cum = 0L
    val subset = snap.files.filter(_.isData).takeWhile { f =>
      val need = cum < n
      cum += f.records
      need
    }
    readFiles(spark, root, snap.schema, subset, Seq.empty)
  }

  /** (bytes, rows) of the data files surviving partition+stats pruning
    * under `preds` — manifest-exact planner statistics (row counts are
    * pre-delete-file upper bounds, which is the conservative direction
    * for join sizing). */
  private[lake] def statsForScan(snap: Snapshot, preds: Seq[Pred]): (Long, Long) = {
    val live = snapshotPlanner(snap).files(preds)._1
    (math.max(1L, live.map(_.sizeBytes).sum), live.map(_.records).sum)
  }

  case class ScanPlan(df: DataFrame, totalFiles: Long, liveFiles: Long, distributed: Boolean)

  /** Scan planning that scales with the manifest (SURVEY §5): the
    * same read as scan(), planned by [[ckptPlanner]] — a Spark job over
    * `ckptfiles-N.parquet` above the planning threshold, so at millions
    * of files the manifest never materializes driver-side. Run
    * rewriteManifests periodically to keep the post-checkpoint tail
    * short, exactly as Iceberg/Delta checkpointing assumes. */
  def planScan(spark: SparkSession, root: String, preds: Seq[Pred],
      asOf: Option[Long] = None): ScanPlan =
    scanWith(spark, root, ckptPlanner(spark, root, asOf), preds)

  /** Which data and delete files snapshot `targetId` serves under a
    * predicate set: THE planning decision. Every read, every DML op
    * and the native scan ask a planner, so no two planes can disagree
    * on a file list. Two backings, one rule ([[ckptPlanner]]): below
    * `graft.planning.distributed-threshold` live files (default 1000),
    * or with no parquet checkpoint covering the target, the driver
    * prunes the replayed Snapshot's FileEntry list
    * ([[snapshotPlanner]]); at or above it the prune runs as ONE Spark
    * job over `ckptfiles-N.parquet` plus the post-checkpoint tail, and
    * only survivors reach the driver ([[checkpointPlanner]] — those
    * entries carry no stats maps, so runtime filters prune them by
    * partition tuple only). The rule reads the ckptmeta's file count
    * alone, before any tail commit.
    *  - `files(preds)`: (data files surviving partition + stats
    *    pruning, every live delete file)
    *  - `totalData`: the live data-file count — lazy, since only
    *    planScan's diagnostics want it and above the threshold it is
    *    a second job over the checkpoint
    *  - `partitionPlane()`: metadata-delete support — the DISTINCT
    *    (partition tuple, specId) pairs of live data files and a
    *    resolver from satisfied partition strings to victim paths */
  private[lake] abstract class FilePlanner(val targetId: Long,
      val properties: Map[String, String], val schema: StructType) {
    val specs: IndexedSeq[Seq[PTransform]] = specHistory(properties)
    val types: Map[String, DataType] = schema.fields.map(f => f.name -> f.dataType).toMap
    protected lazy val aliases: StatAliases = statAliases(schema)
    def distributed: Boolean
    def files(preds: Seq[Pred]): (Seq[FileEntry], Seq[FileEntry])
    def totalData: Long
    def partitionPlane(): (Seq[(Option[Map[String, String]], Int)], Set[String] => Seq[String])
  }

  private def partitionPairs(data: Seq[FileEntry]): Seq[(Option[Map[String, String]], Int)] =
    data.map(f => (f.partition.filter(_.nonEmpty), f.specIdOr0)).distinct

  private def filesInPartitions(data: Seq[FileEntry], sat: Set[String]): Seq[String] =
    data.filter(f => f.partition.filter(_.nonEmpty).exists(m => sat.contains(tupleString(m))))
      .map(_.path)

  /** The driver planner over a snapshot already in hand (the replay
    * cache's, or the caller's own): no log read, no Spark job. */
  private[lake] def snapshotPlanner(snap: Snapshot): FilePlanner =
    new FilePlanner(snap.snapshotId, snap.properties, snap.schema) {
      private val (data, deletes) = snap.files.partition(_.isData)
      def distributed: Boolean = false
      def files(preds: Seq[Pred]): (Seq[FileEntry], Seq[FileEntry]) =
        (prunedData(types, specs, preds, data, aliases), deletes)
      def totalData: Long = data.size.toLong
      def partitionPlane() = (partitionPairs(data), filesInPartitions(data, _))
    }

  /** Meta + ordered tail replay for the newest parquet checkpoint at
    * or before `target` — THE shared replay discipline behind scan
    * planning, the delta checkpoint build, and the describe rollups,
    * factored once so the three planes can never diverge:
    *  - files: for every path the tail touches, the LAST action wins
    *    (a rollback commit that re-adds a path removed by an earlier
    *    tail commit keeps that file live; a flat union of removes
    *    would silently drop its rows)
    *  - properties and schema: replayState's Header fold
    * None when no parquet+meta checkpoint covers `target`, or when
    * that checkpoint's file count is below the distributed-planning
    * threshold — decided from the meta alone, before any tail commit
    * is read (planning then replays the log in memory instead). */
  private case class CkptTail(ck: Long, meta: Commit, tail: Seq[Commit],
      delta: scala.collection.mutable.LinkedHashMap[String, Option[FileEntry]],
      props: Map[String, String], schema: StructType) {
    def timestampMs: Long = tail.lastOption.map(_.timestampMs).getOrElse(meta.timestampMs)
    def touched: Seq[String] = delta.keySet.toSeq
    def tailAdds: Seq[FileEntry] = delta.values.flatten.toSeq
  }

  private def ckptTail(root: String, target: Long): Option[CkptTail] = {
    val lin = lineageOf(root, target)
    listCkptFilesIds(root).filter(k => k <= lin.ckptCeiling &&
      Files.exists(logDir(root).resolve(s"ckptmeta-$k.json"))).sorted.lastOption
      .map(k => (k, parseCommit(Files.readString(logDir(root).resolve(s"ckptmeta-$k.json")))))
      .filter { case (_, meta) => val (c, t) = scaleOf(meta); c >= t }
      .map { case (k, meta) =>
        // off-main (staged WAP / branch) commits fold past the tail
        // exactly as replay does — the shared Lineage rule decides
        val tail = listCommitIds(root).filter(id => id > k && id <= target)
          .map(readCommit(root, _))
          .filter(lin.includes)
        val delta = scala.collection.mutable.LinkedHashMap.empty[String, Option[FileEntry]]
        tail.foreach { c =>
          c.removes.foreach(p => delta(p) = None)
          versionedAdds(c).foreach(e => delta(e.path) = Some(e))
        }
        val hdr = tail.foldLeft(
          Header(meta.properties - "graft.ckpt.file-count" -- commitMarkerProps,
            meta.schemaJson))(_ fold _)
        CkptTail(k, meta, tail, delta, hdr.props, hdr.schema(root, target))
      }
  }

  /** The checkpoint's parquet as a DataFrame with its stats encoding
    * normalized to CURRENT: a pre-stamp list carries clamped-to-0 null
    * counts — demote its zeros to the unknown sentinel (the executor
    * twin of versionedAdds; the stamp lives on the ckptmeta commit) —
    * and a FUTURE stamp is the same loud error as replay. */
  private def ckptFilesDf(spark: SparkSession, root: String, ct: CkptTail): DataFrame = {
    val raw0 = spark.read.parquet(logDir(root).resolve(s"ckptfiles-${ct.ck}.parquet").toString)
    // a pre-evolution checkpoint has no specId column: add it as null
    // (= spec 0) so predCond's dispatch and the delta build's select
    // see one schema
    val raw1 =
      if (raw0.columns.contains("specId")) raw0
      else raw0.withColumn("specId", lit(null).cast(IntegerType))
    // pre-lineage checkpoints likewise lack firstRowId: null = no lineage
    val raw =
      if (raw1.columns.contains("firstRowId")) raw1
      else raw1.withColumn("firstRowId", lit(null).cast(LongType))
    ct.meta.statsVersion match {
      case Some(v) if v == statsVersionCurrent => raw
      case Some(v) if v > statsVersionCurrent =>
        throw new IllegalStateException(
          s"checkpoint ${ct.ck} carries stats version $v but this code understands " +
            s"<= $statsVersionCurrent; upgrade graft before reading this table")
      case _ => raw.withColumn("stats", expr(
        "transform_values(stats, (k, v) -> named_struct(" +
          "'min', v.min, 'max', v.max, " +
          "'nulls', CASE WHEN v.nulls = 0 THEN CAST(-1 AS BIGINT) ELSE v.nulls END))"))
    }
  }

  /** Checkpoint survivors: the parquet list minus tail-touched paths,
    * via an anti-join, not an isin literal list — a huge post-
    * checkpoint rewrite (manifests not yet compacted) stays a normal
    * join instead of either a giant expression tree or an O(table)
    * driver fallback. */
  private def ckptSurvivorsDf(spark: SparkSession, root: String, ct: CkptTail): DataFrame = {
    val ckDf0 = ckptFilesDf(spark, root, ct)
    if (ct.touched.isEmpty) ckDf0
    else {
      import spark.implicits._
      ckDf0.join(ct.touched.toDF("_tpath"), col("path") === col("_tpath"), "left_anti")
        .drop("_tpath")
    }
  }

  /** The planner of snapshot `asOf` (default: main's head), by the
    * rule on [[FilePlanner]]. Below the threshold this costs one
    * ckptmeta probe on top of the cached replay, nothing more. */
  private def ckptPlanner(spark: SparkSession, root: String,
      asOf: Option[Long]): FilePlanner = {
    val ids = listCommitIds(root)
    require(ids.nonEmpty, s"not a GraftTable (empty log): $root")
    val target = asOf.getOrElse(mainHeadId(root, ids))
    require(ids.contains(target),   // same loud contract as state()
      s"snapshot $target not in log (expired or never existed); have ${ids.min}..${ids.max}")
    ckptTail(root, target).map(checkpointPlanner(spark, root, target, _))
      .getOrElse(snapshotPlanner(state(root, asOf)))
  }

  /** The checkpoint-backed planner: the header (properties, schema)
    * resolves from ckptmeta + ordered tail replay, and every prune is
    * one Spark job over the checkpoint parquet. Tail-touched paths
    * resolve from the tail delta (re-adds carry their full FileEntry);
    * untouched paths resolve from the checkpoint. */
  private def checkpointPlanner(spark: SparkSession, root: String, target: Long,
      ct: CkptTail): FilePlanner =
    new FilePlanner(target, ct.props, ct.schema) {
      private val tailAdds = ct.tailAdds
      private val tailData = tailAdds.filter(_.isData)
      private def survivors = ckptSurvivorsDf(spark, root, ct)
      def distributed: Boolean = true
      def files(preds: Seq[Pred]): (Seq[FileEntry], Seq[FileEntry]) = {
        val live = preds.map(predCond(types, specs, _, aliases)).foldLeft(lit(true))(_ && _)
        // ONE job returns the surviving data files and the (tiny)
        // delete list: delete files survive any predicate
        val (ckData, ckDeletes) = survivors
          .filter(col("content") =!= 0 || live)
          .select(col("path"), col("sizeBytes"), col("records"), col("partition"),
            col("content"), col("eqcols"), col("specId"), col("firstRowId"))
          .collect().toSeq.map { r =>
            FileEntry(r.getString(0), r.getLong(1), r.getLong(2), Map.empty,
              Option(r.getAs[scala.collection.Map[String, String]](3)).map(_.toMap)
                .filter(_.nonEmpty),
              Some(r.getInt(4)).filter(_ != 0),
              Option(r.getAs[scala.collection.Seq[String]](5)).map(_.toSeq).filter(_.nonEmpty),
              Option.when(!r.isNullAt(6))(r.getInt(6)),
              Option.when(!r.isNullAt(7))(r.getLong(7)))
          }.partition(_.isData)
        (ckData ++ prunedData(types, specs, preds, tailData, aliases),
          ckDeletes ++ tailAdds.filter(_.isDelete))
      }
      lazy val totalData: Long =
        survivors.filter(col("content") === 0).count() + tailData.size
      def partitionPlane() = {
        val ckData = survivors.filter(col("content") === 0)
        // dedupe on the RENDERED tuple: set ops on MAP columns are
        // unsupported, and the string is the join key downstream anyway
        val pairs = ckData
          .select(col("partition"), coalesce(col("specId"), lit(0)).as("sid"),
            partStringCol(coalesce(col("partition"),
              map().cast("map<string,string>"))).as("_gps"))
          .dropDuplicates("_gps", "sid").collect()
          .map(r => (Option(r.getAs[scala.collection.Map[String, String]](0))
            .map(_.toMap).filter(_.nonEmpty), r.getInt(1))).toSeq
        val resolve = (sat: Set[String]) =>
          if (sat.isEmpty) Seq.empty[String]
          else {
            import spark.implicits._
            ckData.join(sat.toSeq.toDF("_gsat"),
                partStringCol(col("partition")) === col("_gsat"), "left_semi")
              .select(col("path")).collect().map(_.getString(0)).toSeq ++
              filesInPartitions(tailData, sat)
          }
        ((pairs ++ partitionPairs(tailData)).distinct, resolve)
      }
    }

  /** Rendered-tuple-text → external value for local predicate
    * evaluation (the inverse of the identity transform's rendering:
    * timestamps are epoch micros, dates ISO, numbers decimal text,
    * strings raw). None = type unsupported → decline the fast path. */
  private def parsePartValue(dt: DataType, raw: String): Option[Any] = dt match {
    case IntegerType => raw.toIntOption
    case LongType => raw.toLongOption
    case ShortType => raw.toShortOption
    case ByteType => raw.toByteOption
    case StringType => Some(raw)
    case BooleanType => raw.toBooleanOption
    case DoubleType => raw.toDoubleOption
    case FloatType => raw.toFloatOption
    case DateType => scala.util.Try(java.sql.Date.valueOf(raw)).toOption
    case TimestampType => raw.toLongOption.map { us =>
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt); t
    }
    case TimestampNTZType => raw.toLongOption.map(us =>
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
    case _ => None
  }

  private def partValueParseable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | StringType |
         BooleanType | DoubleType | FloatType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def tupleString(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")

  /** DELETE as a pure METADATA operation (Iceberg's metadata delete):
    * when the predicate references ONLY identity-partition columns of
    * the table's CURRENT spec, its truth value is constant per data
    * file — an identity tuple pins those columns for every row — so
    * no scan and no rewrite is needed: victims are exactly the files
    * of satisfied partitions, removed by reference in one commit. A
    * petabyte day-partitioned `DELETE WHERE day < X` costs one
    * metadata pass instead of reading every dropped partition to
    * discover zero survivors. The predicate itself is evaluated ONCE
    * per distinct live partition tuple against a local literal frame
    * (Spark's own semantics — arbitrary expressions allowed, not just
    * pruning-convertible ones; NULL-valued predicates keep the file,
    * matching the row path's coalesce(cond, false)).
    *
    * Declines (None → the row-level path) when: the predicate is
    * nondeterministic or touches any non-identity-partition column;
    * any live data file predates the current spec or lacks tuple
    * values (its rows are NOT pinned); or a partition value fails to
    * parse. Returns the victim paths, planned against `p.targetId`. */
  private def metadataDropVictims(spark: SparkSession, p: FilePlanner,
      condition: Column): Option[Seq[String]] = {
    val schema = p.schema
    val expr = conditionExpr(spark, schema, condition)
    if (!expr.deterministic) return None
    val refs = expr.references.map(_.name).toSet
    if (refs.isEmpty) return None
    val idCols = tableSpec(p.properties).collect { case PIdentity(c) => c }.toSet
    if (!refs.subsetOf(idCols)) return None
    val curSpecId = p.specs.size - 1
    val refFields = schema.fields.filter(f => refs.contains(f.name)).toSeq
    if (refFields.size != refs.size) return None
    // type-support decline BEFORE any planner job (decimals etc.)
    if (!refFields.forall(f => partValueParseable(f.dataType))) return None
    val (pairs, resolve) = p.partitionPlane()
    // every live data file must be pinned by the CURRENT spec's tuples
    if (pairs.exists { case (t, sid) =>
      sid != curSpecId || !t.exists(m => refs.forall(m.contains)) }) return None
    val tuples = pairs.flatMap(_._1).distinct
    val parsed = tuples.map { m =>
      val vals = refFields.map { f =>
        val raw = m(f.name)
        if (raw == nullPart) Some(null) else parsePartValue(f.dataType, raw)
      }
      m -> (if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get)))
    }
    if (parsed.exists(_._2.isEmpty)) return None
    val rows = parsed.zipWithIndex.map { case ((_, v), i) => Row.fromSeq(i +: v.get) }
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(StructField("_gidx", IntegerType, nullable = false) +:
        refFields.map(_.copy(nullable = true))))
    val satIdx = local.filter(condition).select(col("_gidx"))
      .collect().map(_.getInt(0)).toSet
    val sat = parsed.zipWithIndex.collect {
      case ((m, _), i) if satIdx(i) => tupleString(m) }.toSet
    Some(resolve(sat))
  }

  /** DELETE whose WHERE needs the full SQL analyzer — IN/EXISTS/scalar
    * subqueries the Column front door cannot express. The live rows
    * (MoR deletes applied) are exposed as a temp view carrying their
    * _gf_path file identity, the predicate runs through spark.sql, and
    * victims resolve to exactly the files HOLDING matching rows — only
    * those rewrite. A subquery predicate offers no stats bounds, so
    * the SCAN is O(table) by nature; the REWRITE is not. MoR tables
    * take the CoW rewrite here too: a position-delete write would need
    * the same full victim scan, and one correct path beats mode purity
    * for the rare subquery delete. */
  def deleteWhereSubquery(spark: SparkSession, root: String, whereSql: String,
      targetAlias: Option[String] = None): Long =
    rewriteBySql(spark, root, whereSql, None, targetAlias)

  /** UPDATE twin of deleteWhereSubquery: `set` maps column → SQL
    * expression text (subqueries welcome there too); matching rows in
    * victim files rewrite with the assignments applied, every other
    * row carries over byte-identical. */
  def updateWhereSubquery(spark: SparkSession, root: String, whereSql: String,
      set: Map[String, String], targetAlias: Option[String] = None): Long =
    rewriteBySql(spark, root, whereSql, Some(set), targetAlias)

  /** `targetAlias`: expose the generated view under the TARGET's name,
    * so `t.c` references — including correlated ones INSIDE subquery
    * bodies — resolve through normal SQL scoping. Rewriting the
    * predicate text instead would strip `t.` inside a subquery too,
    * and the bare name then resolves inner-scope-first to the wrong
    * relation when the inner table has a same-named column. */
  private def rewriteBySql(spark: SparkSession, root: String, whereSql: String,
      set: Option[Map[String, String]], targetAlias: Option[String] = None): Long = {
    val p = ckptPlanner(spark, root, None)
    val (schema, props) = (p.schema, p.properties)
    set.foreach(s => require(s.keySet.subsetOf(schema.fieldNames.toSet),
      s"unknown update columns: ${s.keySet -- schema.fieldNames}"))
    val (all, deletes) = p.files(Seq.empty)
    val id = p.targetId + 1
    val op = if (set.isEmpty) "overwrite" else "update"
    val view = s"graft_dml_${UUID.randomUUID().toString.replace("-", "")}"
    val vview = view + "_victims"
    liveRowsWithIds(spark, root, schema, all, deletes)
      .drop("_gf_pos", "_gf_snap").createOrReplaceTempView(view)
    val from = targetAlias.fold(view)(a => s"$view AS `$a`")
    try {
      // files that actually hold matching rows (match on the unique
      // file NAME — _gf_path is an absolute URI, paths are relative)
      val victimNames = spark.sql(
        s"SELECT DISTINCT _gf_path FROM $from WHERE $whereSql")
        .collect().map(_.getString(0).split('/').last).toSet
      val victims = all.filter(f => victimNames.contains(f.path.split('/').last))
      if (victims.isEmpty) {
        return commitOrCleanup(root, id, Commit(id, Some(id - 1),
          System.currentTimeMillis(), op, Seq.empty, Seq.empty, Map.empty, None))
      }
      val fieldsSql = schema.fields.map { f =>
        set.flatMap(_.get(f.name)) match {
          case Some(v) =>
            // same atomic-projection rule as update(): assignments see
            // the ORIGINAL row, matched via the full SQL predicate
            s"CASE WHEN coalesce(($whereSql), false) " +
              s"THEN CAST(($v) AS ${f.dataType.sql}) ELSE `${f.name}` END AS `${f.name}`"
          case None => s"`${f.name}`"
        }
      }.mkString(", ")
      val keepSql = if (set.isEmpty) s"NOT coalesce(($whereSql), false)" else "true"
      // the REWRITE reads only the victim files — a second view over
      // just those, so picking 1 victim out of 1000 files rescans 1
      // (subqueries in the predicate reference catalog tables, never
      // this view, so restricting it cannot change their results)
      liveRowsWithIds(spark, root, schema, victims, deletes)
        .drop("_gf_pos", "_gf_snap").createOrReplaceTempView(vview)
      val fromV = targetAlias.fold(vview)(a => s"$vview AS `$a`")
      val rewritten = spark.sql(
        s"SELECT $fieldsSql FROM $fromV WHERE $keepSql")
      val adds = writeDataFiles(spark, root, rewritten, id, props)
      // every live file held a matching row → full rewrite: retire the
      // delete files and historical names with it (overwriteWhere's rule)
      val fullRewrite = victims.size == all.size
      val dropDeletes = if (fullRewrite) deletes.map(_.path) else Seq.empty
      val (retSchemaJ, retProps) =
        if (fullRewrite) retiredNamesMeta(schema, props)
        else (None, Map.empty[String, String])
      commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
        op, adds, victims.map(_.path) ++ dropDeletes, retProps, retSchemaJ))
    } finally {
      spark.catalog.dropTempView(view)
      scala.util.Try(spark.catalog.dropTempView(vview))
    }
  }

  /** Diagnostic/test probe for how a row-level DML with these
    * predicates selects its victims RIGHT NOW: (victim data paths,
    * live delete paths, planned-distributed). deleteWhere / update /
    * merge / overwriteWhere run this exact path. */
  def planDmlProbe(spark: SparkSession, root: String,
      preds: Seq[Pred]): (Seq[String], Seq[String], Boolean) = {
    val p = ckptPlanner(spark, root, None)
    val (victims, dels) = p.files(preds)
    (victims.map(_.path), dels.map(_.path), p.distributed)
  }

  // ── change data capture ─────────────────────────────────────────────

  /** Incremental batch read: rows APPENDED in `(fromExclusive,
    * toInclusive]`, the Delta/Iceberg "incremental scan" — the cheap
    * nightly-ETL path: cost is O(bytes appended in the range), never a
    * table scan or diff. Throws on any row-changing commit in the
    * range (deletes/overwrites can't be represented as appended rows —
    * use `changes` for those). Maintenance rewrites are transparently
    * skipped: they move rows between files without changing them. */
  def readIncremental(spark: SparkSession, root: String, fromExclusive: Long,
      toInclusive: Long): DataFrame = {
    val (schema, allCommits) = commitRange(root, fromExclusive, toInclusive)
    // off-main (staged WAP / branch) commits are not on the main
    // lineage: nothing was appended until a cherrypick or
    // fast_forward publishes them (which IS an append)
    val commits = allCommits.filterNot(isOffMain(root, _))
    // a cherrypick/fast_forward with removes published a row-level
    // rewrite — that range is not append-only
    val bad = commits.filterNot(c =>
      c.operation == "append" || c.operation == "txn_append" ||
        ((c.operation == "cherrypick" || c.operation == "fast_forward" ||
          c.operation == "merge_branch") && c.removes.isEmpty) ||
        maintenanceOps(c.operation))
    // don't advertise changes() for a range it refuses too: a replace
    // boundary is uncrossable by either API — say so directly
    require(!bad.exists(_.operation == "replace"),
      s"readIncremental cannot cross REPLACE TABLE (snapshot(s) " +
        s"${bad.filter(_.operation == "replace").map(_.snapshotId).mkString(", ")}); " +
        "neither can changes() — re-bootstrap consumers from a post-replace snapshot")
    require(bad.isEmpty,
      s"readIncremental covers append-only ranges; snapshot(s) " +
        s"${bad.map(c => s"${c.snapshotId}=${c.operation}").mkString(", ")} change rows — use changes()")
    val added = commits
      .filter(c => c.operation == "append" || c.operation == "txn_append" ||
        c.operation == "cherrypick" ||
        c.operation == "fast_forward" || c.operation == "merge_branch")
      .flatMap(_.adds).filter(_.isData)
    readFiles(spark, root, schema, added, Seq.empty)
  }

  /** CDC read (the Delta CDF / Iceberg changelog analog): every
    * row-level change committed in `(fromExclusive, toInclusive]`, as
    * the table's columns plus `_change_type` ('insert' | 'delete'),
    * `_commit_snapshot_id` and `_commit_timestamp_ms`. An UPDATE or
    * MERGE surfaces as delete+insert at the same snapshot.
    *
    * Cost model (the 100 TB contract): appends emit their added files
    * directly (O(added bytes)); maintenance rewrites (compaction, sort,
    * delete-file folding, checkpoint) emit NOTHING — they rearrange
    * bytes, not rows; only row-changing commits (delete / overwrite /
    * update / merge / rollback) diff live rows before-vs-after, and
    * that diff reads ONLY the files the commit touched: its removed
    * files, its added files, and — for merge-on-read deletes — the
    * data files its new delete files address (position deletes name
    * them; equality deletes are bounded by the delete file's key
    * min/max stats against each file's column stats). Untouched files
    * never enter the diff, so a keyed DELETE on a petabyte table
    * diffs megabytes. */
  def changes(spark: SparkSession, root: String, fromExclusive: Long,
      toInclusive: Long): DataFrame = {
    val (endSchema, allCommits) = commitRange(root, fromExclusive, toInclusive)
    // off-main (staged WAP / branch) commits change no live rows;
    // their rows enter the feed at the cherrypick or fast_forward
    // that publishes them
    val commits = allCommits.filterNot(isOffMain(root, _))
    // a REPLACE restarts the schema lineage: the old generation's rows
    // cannot be represented under the end schema (columns need not
    // correspond at all), so a range crossing one fails loudly rather
    // than serve a silently-wrong feed — read either side of it
    val replaces = commits.filter(_.operation == "replace")
    require(replaces.isEmpty,
      s"CDC across REPLACE TABLE is unsupported: snapshot(s) " +
        s"${replaces.map(_.snapshotId).mkString(", ")} restart the table's " +
        "schema lineage; read ranges on either side of the replace")
    val parts = commits.flatMap { c =>
      changesOf(spark, root, c, endSchema).map(
        _.withColumn("_commit_snapshot_id", lit(c.snapshotId))
          .withColumn("_commit_timestamp_ms", lit(c.timestampMs)))
    }
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      endSchema.add("_change_type", StringType)
        .add("_commit_snapshot_id", LongType).add("_commit_timestamp_ms", LongType))
    // every per-commit part already reads under the END schema (see
    // changesOf), so the feed is schema-uniform: a column ADDED
    // mid-range is null for earlier commits, a column RENAMED
    // mid-range serves pre-rename values under its live name (via the
    // snapshot schema's prev-names coalesce), a column DROPPED
    // mid-range never appears
    parts.foldLeft(empty)(_.unionByName(_))
  }

  /** Branch-scoped CDC — the audit feed for WHAT a branch changed
    * before publishing: every row-level change the branch's commits
    * made in its current epoch (base, head], under the same schema
    * and `_change_type`/`_commit_*` columns as changes(). Per-commit
    * diffs resolve prev/cur through state(), which replays branch
    * lineage for branch targets, so deletes and merges on the branch
    * diff exactly like their main-lineage twins. The publish itself
    * still surfaces in the MAIN feed as one fast_forward boundary. */
  def changesOnBranch(spark: SparkSession, root: String,
      name: String): DataFrame = {
    val base = branches(root).getOrElse(name,
      throw new IllegalArgumentException(s"no such branch: '$name'"))
    val head = branchHeadId(root, name)
    val endSchema = state(root, Some(head)).schema
    val commits = listCommitIds(root)
      .filter(id => id > base && id <= head)
      .filter(id => branchInfoOfId(root, id).contains((name, base)))
      .sorted
      .map(readCommit(root, _))
    val parts = commits.flatMap { c =>
      changesOf(spark, root, c, endSchema).map(
        _.withColumn("_commit_snapshot_id", lit(c.snapshotId))
          .withColumn("_commit_timestamp_ms", lit(c.timestampMs)))
    }
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      endSchema.add("_change_type", StringType)
        .add("_commit_snapshot_id", LongType).add("_commit_timestamp_ms", LongType))
    parts.foldLeft(empty)(_.unionByName(_))
  }

  /** Admission-control metadata for the CDC stream source: commit ids
    * in (fromExclusive, toInclusive] paired with the record count
    * their data adds carry (0 for maintenance ops — the feed emits
    * nothing for them), staged (WAP) commits excluded — invisible to
    * the feed until cherrypicked. Metadata-plane only: one small JSON
    * read per PENDING commit on the driver, never O(table). */
  private[lake] def pendingCommitRows(root: String, fromExclusive: Long,
      toInclusive: Long): Seq[(Long, Long)] =
    listCommitIds(root)
      .filter(id => id > fromExclusive && id <= toInclusive).sorted
      .map(readCommit(root, _))
      .filterNot(isOffMain(root, _))
      .map(c => c.snapshotId -> (
        if (maintenanceOps(c.operation)) 0L
        else c.adds.filter(_.content.forall(_ == 0)).map(_.records).sum))

  /** Ops that never change live row content, only file layout. */
  private def maintenanceOps(op: String): Boolean = op match {
    case "create" | "add_column" | "rename_column" | "drop_column" |
         "widen_column" | "set_properties" | "evolve_spec" | "checkpoint" |
         "rewrite_data_files" | "rewrite_data_files_sorted" |
         "rewrite_data_files_zorder" | "rewrite_position_deletes" |
         "rewrite_equality_deletes" | "wap_abandon" | "set_default" => true
    case _ => false
  }

  private def commitRange(root: String, fromExclusive: Long,
      toInclusive: Long): (StructType, Seq[Commit]) = {
    val ids = listCommitIds(root)
    require(ids.nonEmpty, s"not a GraftTable (empty log): $root")
    require(fromExclusive <= toInclusive && ids.contains(toInclusive) &&
      (fromExclusive == 0L || ids.contains(fromExclusive)),
      s"change range ($fromExclusive, $toInclusive] not in log ${ids.min}..${ids.max}")
    // every commit in the range must still exist — after expire_snapshots
    // a prefix of the log is gone, and a partial feed would silently
    // misrepresent history (Delta CDF errors the same way)
    val inRange = ids.count(id => id > fromExclusive && id <= toInclusive)
    require(inRange == toInclusive - fromExclusive,
      s"change range ($fromExclusive, $toInclusive] has expired commits " +
        s"(log starts at ${ids.min}); narrow the range or use the checkpointed state")
    val endSchema = state(root, Some(toInclusive)).schema
    val commits = ids.filter(id => id > fromExclusive && id <= toInclusive).sorted
      .map(readCommit(root, _))
    // base schema at the range start (clamped to the oldest retained
    // commit — a from of 0 over an expired prefix has no state there)
    val baseId = math.max(fromExclusive, ids.min)
    (mergeRangePrevNames(root, fromExclusive, toInclusive, baseId, endSchema, commits),
      commits)
  }

  /** The end schema AUGMENTED with every historical physical name any
    * schema version in the range knew for each field. A full rewrite
    * retires prev-names from the LIVE schema (no surviving file
    * carries the old names) — but a change range can still reach
    * pre-rewrite commits whose files do, so the range read re-collects
    * the names by chain-walking the range's schema versions. Refuses
    * loudly when a collected historical name collides with a different
    * live field (a retired name reused by ADD COLUMN): the same
    * physical bytes would mean two logical columns, which only a
    * field-id format could disambiguate. */
  private def mergeRangePrevNames(root: String, fromExclusive: Long,
      toInclusive: Long, baseId: Long, endSchema: StructType,
      commits: Seq[Commit]): StructType = {
    val histSchemas = (state(root, Some(baseId)).schema +: commits.flatMap(_.schemaJson)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])).distinct
    val hists: Seq[(StructField, Seq[String], Boolean)] = endSchema.fields.toSeq.map { f =>
      val names = scala.collection.mutable.LinkedHashSet[String](f.name)
      prevNames(f).foreach(names += _)
      var grew = true
      while (grew) {
        grew = false
        histSchemas.foreach(_.fields.foreach { g =>
          if (names.exists(_.equalsIgnoreCase(g.name)))
            prevNames(g).foreach { h =>
              if (!names.exists(_.equalsIgnoreCase(h))) { names += h; grew = true }
            }
        })
      }
      // a full rewrite may have retired graft.was-float at the range's
      // end, but the range still reads pre-rewrite files with
      // float-rendered stats — re-collect the stamp like prev-names
      val wasF = f.metadata.contains(wasFloatKey) ||
        histSchemas.exists(_.fields.exists(g =>
          names.exists(_.equalsIgnoreCase(g.name)) && g.metadata.contains(wasFloatKey)))
      (f, names.toSeq.filterNot(_.equalsIgnoreCase(f.name)), wasF)
    }
    def reuse(name: String): Nothing = throw new IllegalArgumentException(
      s"change range ($fromExclusive, $toInclusive] crosses reuse of physical " +
        s"column name '$name' (retired by a full rewrite, then re-added): the " +
        "same physical column means two different logical columns across the " +
        "range — narrow the range to one side of the re-add")
    hists.foreach { case (f, hist, _) =>
      endSchema.fields.foreach { other =>
        if (other.name != f.name && hist.exists(_.equalsIgnoreCase(other.name)))
          reuse(other.name)
      }
      hists.foreach { case (g, gh, _) =>
        if (g.name != f.name)
          hist.find(h => gh.exists(_.equalsIgnoreCase(h))).foreach(reuse)
      }
    }
    StructType(hists.map { case (f, hist, wasF) =>
      val needPrev = hist != prevNames(f)
      val needFloat = wasF && !f.metadata.contains(wasFloatKey)
      if (!needPrev && !needFloat) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        if (needPrev) b.putStringArray(prevNamesKey, hist.toArray)
        if (needFloat) b.putBoolean(wasFloatKey, true)
        f.copy(metadata = b.build())
      }
    })
  }

  /** The row-level changes ONE commit made, as (rows, '_change_type')
    * — None when the op cannot change rows. Every read happens under
    * `endSchema` (the schema at the range's END, exactly like
    * readIncremental): its prev-names metadata coalesces the
    * historical physical names of files written before a mid-range
    * RENAME, so a CDC consumer materializing into the current schema
    * never sees a dead column name or a spuriously-null live one. A
    * per-commit parent schema here would do exactly that — emit
    * pre-rename rows under the old name with nulls under the new. */
  private def changesOf(spark: SparkSession, root: String, c: Commit,
      endSchema: StructType): Option[DataFrame] = {
    if (maintenanceOps(c.operation)) return None
    // a cherrypick of a staged APPEND publishes pure inserts at the
    // CHERRYPICK's snapshot, the moment they became live; one that
    // carries removes published a row-level rewrite and takes the
    // generic before-vs-after diff below like any overwrite
    if (c.operation == "append" || c.operation == "branch_append" ||
        c.operation == "txn_append" ||
        ((c.operation == "cherrypick" || c.operation == "fast_forward" ||
          c.operation == "merge_branch") && c.removes.isEmpty))
      return Some(readFiles(spark, root, endSchema, c.adds.filter(_.isData), Seq.empty)
        .withColumn("_change_type", lit("insert")))
    val prev = state(root, Some(c.parentId.getOrElse(c.snapshotId - 1)))
    val cur = state(root, Some(c.snapshotId))
    val prevByPath = prev.files.map(f => f.path -> f).toMap
    val removedData = c.removes.flatMap(prevByPath.get).filter(_.isData)
    val addedData = c.adds.filter(_.isData)
    // data files whose LIVE rows this commit's delete-file changes can
    // affect: delete files it ADDS kill rows, and delete files it
    // REMOVES (a rollback past a MoR delete) resurrect them — both
    // sides of that coin must enter the diff or the feed misses rows
    val deltaDeletes = c.adds.filter(_.isDelete) ++
      c.removes.flatMap(prevByPath.get).filter(_.isDelete)
    val targets = deleteVictims(spark, root, endSchema, deltaDeletes,
      prev.files.filter(_.isData))
    val beforeFiles = (removedData ++ targets).distinctBy(_.path)
    val curPaths = cur.files.map(_.path).toSet
    val afterFiles = (addedData ++ beforeFiles.filter(f => curPaths.contains(f.path)))
      .distinctBy(_.path)
    val before = readFiles(spark, root, endSchema, beforeFiles, prev.files.filter(_.isDelete))
    val after = readFiles(spark, root, endSchema, afterFiles, cur.files.filter(_.isDelete))
    Some(before.exceptAll(after).withColumn("_change_type", lit("delete"))
      .unionByName(after.exceptAll(before).withColumn("_change_type", lit("insert"))))
  }

  /** The data files (among `candidates`) a set of delete-file entries
    * addresses: position deletes name their victims (one small read);
    * equality deletes are bounded by their key min/max stats against
    * each candidate's column stats, scoped by the sequence rule to
    * files at or before the DELETE file's own snapshot. Eq-delete key
    * names are at-WRITE physical names: a key later renamed translates
    * through `schema`'s prev-names; a key later dropped contributes no
    * bound (the victim set widens, answers don't change). */
  private def deleteVictims(spark: SparkSession, root: String,
      schema: StructType, deleteEntries: Seq[FileEntry],
      candidates: Seq[FileEntry]): Seq[FileEntry] = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val aliases = statAliases(schema)
    val prevToLive: Map[String, String] = schema.fields.flatMap(f =>
      prevNames(f).map(h => h.toLowerCase -> f.name)).toMap
    val posFiles = deleteEntries.filter(_.content.contains(1))
    val dvFiles = deleteEntries.filter(_.content.contains(3))
    val pos: Seq[FileEntry] =
      if (posFiles.isEmpty && dvFiles.isEmpty) Seq.empty
      else {
        hydrate(root, (posFiles ++ dvFiles).map(_.path))
        val posNames =
          if (posFiles.isEmpty) Set.empty[String]
          else spark.read.schema(posDeleteSchema)
            .parquet(posFiles.map(f => s"$root/${f.path}"): _*)
            .select(substring_index(col("file_path"), "/", -1)).distinct()
            .collect().map(_.getString(0)).toSet
        // a DV container NAMES its victims in its own name column — no
        // bitmap decode needed for victim discovery
        val dvNames =
          if (dvFiles.isEmpty) Set.empty[String]
          else spark.read.schema(GraftDv.schema)
            .parquet(dvFiles.map(f => s"$root/${f.path}"): _*)
            .select(col("name")).distinct().collect().map(_.getString(0)).toSet
        val names = posNames ++ dvNames
        candidates.filter(f => names.contains(f.path.split('/').last))
      }
    val eq = deleteEntries.filter(_.content.contains(2)).flatMap { d =>
      // bounds only from columns the pruning comparator orders
      // correctly (statsTypes) — anything else stays unbounded
      val bounds = d.eqCols.getOrElse(Seq.empty).flatMap { kc =>
        schema.fieldNames.find(_.equalsIgnoreCase(kc))
          .orElse(prevToLive.get(kc.toLowerCase))
          .filter(lc => statsTypes.contains(types(lc))).toSeq
          .flatMap { lc =>
            d.stats.get(kc).toSeq.flatMap(st =>
              st.min.map(Ge(lc, _)).toSeq ++ st.max.map(Le(lc, _)).toSeq)
          }
      }
      candidates.filter(f => f.snapshotOfName < d.snapshotOfName &&
        mayMatch(types, bounds, aliases)(f))
    }
    (pos ++ eq).distinctBy(_.path)
  }

  /** Streaming read of an APPEND-ONLY table: data files land in
    * `data/` by atomic rename strictly before their commit, so Spark's
    * incremental file source streams each append exactly once (same
    * discipline as Delta's streaming source, which likewise rejects
    * non-append changes). Compaction/overwrite/rollback on a streamed
    * table would re-deliver rewritten files — run maintenance on a
    * downstream copy instead, and do not combine this stream with
    * `graft.auto-compact.min-files` (ordinary appends would then
    * trigger exactly such a rewrite). REPLACE TABLE is worse than
    * re-delivery: the replace commits the new generation into the
    * same `data/` directory, and a live stream would ingest those
    * files under the schema it pinned at start — different columns
    * surfacing as silent nulls. The generation guard turns that into
    * a LOUD failure: the stream pins the table's replace-generation at
    * start, every micro-batch task re-reads the marker on
    * initialization, and the query terminates with the generation
    * error the moment a REPLACE commits — restart it against the new
    * generation.
    *
    * Aborted-commit caveat: a writer that loses the commit race cleans
    * its staged files up (commitOrCleanup), but a writer that CRASHES
    * between the data-file move and the commit leaves uncommitted
    * orphans in `data/` which this stream would deliver even though no
    * snapshot references them (and a retried append would deliver the
    * rows again from new files). Run `removeOrphanFiles` before
    * attaching a stream to a table that may hold crashed writes. */
  /** The CDC change feed as a STREAM (provider "graft-cdc"): every
    * published commit after `fromExclusive` (default: the log head at
    * stream start) arrives as one micro-batch of `_change_type` rows —
    * the streaming twin of `changes`, with its exactly-once and
    * loud-failure semantics (see GraftCdcStreamProvider). */
  def readStreamChanges(spark: SparkSession, root: String,
      fromExclusive: Option[Long] = None,
      maxSnapshotsPerTrigger: Option[Int] = None,
      maxRowsPerTrigger: Option[Long] = None): DataFrame = {
    var r = spark.readStream.format("graft-cdc").option("path", root)
    fromExclusive.foreach(id => r = r.option("startingSnapshotId", id.toString))
    maxSnapshotsPerTrigger.foreach(n => r = r.option("maxSnapshotsPerTrigger", n.toString))
    maxRowsPerTrigger.foreach(n => r = r.option("maxRowsPerTrigger", n.toString))
    r.load()
  }

  def readStreamAppendOnly(spark: SparkSession, root: String): DataFrame = {
    // The directory stream reads data/ by GLOB, not through the
    // planned-read choke points, so the store's hydration never fires
    // for it — and hydrating once at start would still silently miss
    // every LATER commit's files (the source polls the directory, and
    // a metadata-only follower never materializes new data files
    // unprompted). Refuse loudly: the CDC source (readStreamChanges)
    // is the follower-safe stream — its per-commit diff hydrates
    // exactly the files each batch touches.
    require(!isLazyRoot(root),
      s"readStreamAppendOnly is not supported on a lazy follower root $root " +
        "(on-demand hydration mounted): the directory glob would silently " +
        "serve only already-hydrated files — use readStreamChanges")
    // pin the generation from the COMMITTED generationProp of the
    // same snapshot the schema comes from — atomic with the schema by
    // construction, so no interleaving with a concurrent REPLACE can
    // produce a (new generation, old schema) pin that passes the
    // guard silently. A stream starting mid-replace (marker already
    // bumped, commit not yet landed) pins the OLD committed value
    // against the already-ahead marker and fails its first batch
    // loudly — the safe side. (Pinning the MARKER here instead would
    // pin the new generation against the old schema in exactly that
    // window: the silent corruption the guard exists to catch.)
    val snap = state(root)
    val pinnedGen = committedGeneration(snap.properties)
    val schema = snap.schema
    val guarded = !snap.properties.get("graft.stream.generation-guard").contains("false")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_generation_ok", es => GenerationGuard(es(0), es(1)), "built-in")
    var raw = spark.readStream
      .schema(physReadSchema(schema))
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$root/data")
    // trade-off: the guard is nondeterministic, so Catalyst will not
    // push a user filter stacked above it down into the parquet
    // source. Correct-by-default wins; pipelines that filter heavily
    // on the stream AND manage replaces operationally can set the
    // table property graft.stream.generation-guard=false to trade the
    // guard back for source-level pushdown.
    if (guarded)
      raw = raw.filter(call_function("graft_generation_ok", lit(root), lit(pinnedGen)))
    if (hasRenames(schema)) logicalProject(raw, schema) else raw
  }

  /** The stream/replace boundary enforcer: a filter that is `true` for
    * every row while the table's replace-generation equals the value
    * pinned at stream start, and THROWS from task initialization once
    * a REPLACE moves it. Marked nondeterministic so Catalyst neither
    * constant-folds it away nor pushes it into the source; the check
    * itself runs once per task (one marker-file read), so the per-row
    * cost is returning a constant. A micro-batch plans its file list
    * BEFORE its tasks initialize, so any batch that could contain
    * new-generation files observes the already-bumped marker and dies
    * before a single alien row reaches the sink. */
  private[lake] case class GenerationGuard(left: Expression, right: Expression)
      extends BinaryExpression with Nondeterministic with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override protected def initializeInternal(partitionIndex: Int): Unit = {
      val root = left.eval(null).toString
      val expected = right.eval(null).asInstanceOf[Long]
      val gen = currentGeneration(root)
      // strictly-greater, not !=: the counter is monotonic (nextGeneration
      // takes max(marker, committed)), so marker BELOW the pin can only
      // mean the marker file itself was lost — degrade to "no guard"
      // consistently rather than spuriously killing every stream
      if (gen > expected) throw new IllegalStateException(
        s"graft table at $root moved to generation $gen while this stream pinned " +
          s"generation $expected: REPLACE TABLE or schema evolution " +
          "(rename/drop/widen column) committed under a live stream. Stop " +
          "streams before such commits, then restart them against the new " +
          "generation and schema.")
    }
    override protected def evalInternal(input: InternalRow): Any = true
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Pruned read from an arbitrary Column predicate: stats-comparable
    * conjuncts are extracted automatically and prune files; the FULL
    * condition is then applied, so semantics match `read().filter` for
    * any predicate while simple comparisons skip non-matching files
    * entirely. */
  def readWhere(spark: SparkSession, root: String, condition: Column,
      asOf: Option[Long] = None): DataFrame = {
    val p = snapshotPlanner(state(root, asOf))
    val (live, deletes) = p.files(extractPreds(conditionExpr(spark, p.schema, condition), p.types))
    readFiles(spark, root, p.schema, live, deletes).filter(condition)
  }

  // ── metadata tables (reference: .snapshots/.files/.history) ─────────

  def snapshotsTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    listCommitIds(root).map { id =>
      val c = readCommit(root, id)
      // the Iceberg snapshot-summary record counts, straight off the
      // commit's own adds (metadata-plane; no replay, no file reads)
      (c.snapshotId, c.timestampMs, c.operation, c.adds.size.toLong,
        c.removes.size.toLong,
        c.adds.filter(_.isData).map(_.records).sum,
        c.adds.filter(_.isDelete).map(_.records).sum)
    }.toDF("snapshot_id", "committed_at_ms", "operation", "added_files",
      "removed_files", "added_records", "added_delete_records")
  }

  private def partString(f: FileEntry): String =
    f.partitionValues.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")

  def filesTable(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // when a parquet checkpoint exists at exactly this snapshot, the
    // file list IS that parquet — the metadata table scales like the
    // data (no driver materialization of millions of entries)
    val ids = listCommitIds(root)
    val target = asOf.getOrElse(if (ids.nonEmpty) mainHeadId(root, ids) else -1L)
    if (listCkptFilesIds(root).contains(target)) {
      val raw = spark.read.parquet(logDir(root).resolve(s"ckptfiles-$target.parquet").toString)
      val sid =   // pre-evolution checkpoints have no specId column
        if (raw.columns.contains("specId")) coalesce(col("specId"), lit(0))
        else lit(0)
      raw.select(col("path").as("file_path"), col("sizeBytes").as("file_size_in_bytes"),
          col("records").as("record_count"), col("content"),
          partStringCol(col("partition")).as("partition"), sid.as("spec_id"))
    } else
      state(root, asOf).files
        .map(f => (f.path, f.sizeBytes, f.records, f.content.getOrElse(0), partString(f),
          f.specIdOr0))
        .toDF("file_path", "file_size_in_bytes", "record_count", "content", "partition",
          "spec_id")
  }

  /** `.partitions` metadata view (the Iceberg sibling): one row per
    * live partition tuple with file/record/byte rollups. Unpartitioned
    * tables (or pre-spec files) report the empty tuple. When a parquet
    * checkpoint exists at exactly the requested snapshot, the rollup
    * runs as a Spark aggregation over it (the filesTable split) — the
    * output is one row per partition either way, but the INPUT file
    * list never materializes driver-side. */
  def partitionsTable(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val ids = listCommitIds(root)
    val target = asOf.getOrElse(if (ids.nonEmpty) mainHeadId(root, ids) else -1L)
    if (listCkptFilesIds(root).contains(target))
      spark.read.parquet(logDir(root).resolve(s"ckptfiles-$target.parquet").toString)
        .filter(col("content") === 0)
        .groupBy(partStringCol(col("partition")).as("partition"))
        .agg(count(lit(1)).as("file_count"), sum(col("records")).as("record_count"),
          sum(col("sizeBytes")).as("total_size_in_bytes"))
        .orderBy(col("partition"))
    else
      state(root, asOf).files.filter(_.isData)
        .groupBy(partString)
        .map { case (p, fs) =>
          (p, fs.size.toLong, fs.map(_.records).sum, fs.map(_.sizeBytes).sum)
        }.toSeq.sortBy(_._1)
        .toDF("partition", "file_count", "record_count", "total_size_in_bytes")
  }

  /** `.position_deletes` metadata view (the Iceberg sibling): every
    * LIVE position-delete row — which (data file, position) pairs are
    * masked, and the delete file carrying each. A distributed parquet
    * read of the delete files themselves (no driver materialization);
    * data-file paths render as the basename the MoR anti-join matches
    * on, so the view is stable across table renames. */
  def positionDeletesTable(spark: SparkSession, root: String): DataFrame = {
    val files = state(root).files
    val posD = files.filter(_.content.contains(1))
    val dvD = files.filter(_.content.contains(3))
    hydrate(root, (posD ++ dvD).map(_.path))
    val posPart = Option.when(posD.nonEmpty)(
      spark.read.schema(posDeleteSchema).parquet(posD.map(f => s"$root/${f.path}"): _*)
        .select(
          substring_index(col("file_path"), "/", -1).as("file_path"),
          col("pos"),
          col("_metadata.file_name").as("delete_file_path")))
    val dvPart = Option.when(dvD.nonEmpty)(
      GraftDv.positionsWithSourceDf(spark, dvD.map(f => s"$root/${f.path}")))
    val parts = posPart.toSeq ++ dvPart
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("file_path", StringType), StructField("pos", LongType),
        StructField("delete_file_path", StringType))))
    else parts.reduce(_.unionByName(_))
      .withColumn("delete_file_path", concat(lit("deletes/"), col("delete_file_path")))
  }

  /** `.manifests` metadata view: the physical metadata files readers
    * replay — every commit JSON plus every checkpoint artifact. */
  def manifestsTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rows = listDir(logDir(root))
      .filter(p => p.getFileName.toString.endsWith(".json") ||
        p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val n = p.getFileName.toString
        val kind =
          if (n.matches("\\d+\\.json")) "commit"
          else if (n.startsWith("checkpoint-")) "checkpoint"
          else if (n.startsWith("ckptmeta-")) "checkpoint_meta"
          else if (n.startsWith("ckptfiles-")) "checkpoint_files"
          else "other"
        val size =
          if (Files.isDirectory(p)) listDir(p).map(f => Files.size(f)).sum
          else Files.size(p)
        (s"_graft_log/$n", kind, size)
      }.sortBy(_._1)
    rows.toDF("path", "kind", "size_in_bytes")
  }

  /** `.refs` metadata view: named references → snapshot ids — `main`,
    * every live branch (at its HEAD, the Iceberg refs semantics), and
    * every tag. */
  def refsTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val props = state(root).properties
    def retention(kind: String, n: String, sid: Long): (Option[Long], Option[Long]) = {
      val (created, over) = refRetention(root, props, kind, n, sid)
      (Some(created).filter(_ > 0L), over.orElse(refLongProp(props, tableMaxRefAgeProp)))
    }
    // main = the main-lineage head, which a pending staged (WAP)
    // commit or a branch write at the raw log head does not advance;
    // it is not a property ref and never carries a retention
    (Seq(("main", "BRANCH", state(root).snapshotId,
        None: Option[Long], None: Option[Long])) ++
      branches(root).toSeq.sortBy(_._1).map { case (n, base) =>
        val (c, m) = retention("branch", n, base)
        (n, "BRANCH", branchHeadId(root, n), c, m)
      } ++
      tags(root).toSeq.sortBy(_._1).map { case (n, id) =>
        val (c, m) = retention("tag", n, id)
        (n, "TAG", id, c, m)
      })
      .toDF("name", "type", "snapshot_id", "created_at_ms", "max_ref_age_ms")
  }

  // ── tags (immutable named snapshot refs) ────────────────────────────
  // The Iceberg TAG flavor only — mutable branches are the declared
  // Nessie non-goal (SURVEY §6). Tags ride the table-properties
  // machinery (a set_properties commit), so they replay, checkpoint,
  // and CDC-skip exactly like any other metadata change; an empty
  // value marks a dropped tag (properties only ever merge forward).

  // ── ref retention (Iceberg's max-ref-age rule) ──────────────────────
  // Every ref records its creation time; a per-ref RETAIN override or
  // the table-level `history.expire.max-ref-age-ms` property lets
  // expire_snapshots age refs out (main never expires). Companion
  // properties ride the same merge-forward machinery as the ref
  // itself; "" marks them dropped.
  private def refCreatedKey(kind: String, name: String) = s"graft.ref.created.$kind.$name"
  private def refMaxAgeKey(kind: String, name: String) = s"graft.ref.maxage.$kind.$name"
  private[lake] val tableMaxRefAgeProp = "history.expire.max-ref-age-ms"
  private[lake] val minSnapshotsProp = "history.expire.min-snapshots-to-keep"

  private def refLongProp(props: Map[String, String], key: String): Option[Long] =
    props.get(key).filter(_.nonEmpty).flatMap(_.toLongOption)

  /** (createdAtMs, maxRefAgeMs override) for a live ref. A ref from
    * before creation stamps existed falls back to its snapshot's
    * commit timestamp — conservative for tags created late on old
    * snapshots, but those predate the feature by definition. */
  private def refRetention(root: String, props: Map[String, String],
      kind: String, name: String, snapshotId: Long): (Long, Option[Long]) = {
    val created = refLongProp(props, refCreatedKey(kind, name)).getOrElse {
      if (Files.exists(commitPath(root, snapshotId))) readCommit(root, snapshotId).timestampMs
      else 0L
    }
    (created, refLongProp(props, refMaxAgeKey(kind, name)))
  }

  def createTag(root: String, name: String, snapshotId: Long,
      maxRefAgeMs: Option[Long] = None): Long = {
    require(listCommitIds(root).contains(snapshotId),
      s"cannot tag snapshot $snapshotId: not in log")
    require(!isStagedId(root, snapshotId),
      s"cannot tag staged (WAP) snapshot $snapshotId: publish it first")
    require(!tags(root).contains(name), s"tag '$name' already exists")
    setProperties(root, Map(s"graft.ref.tag.$name" -> snapshotId.toString,
      refCreatedKey("tag", name) -> System.currentTimeMillis().toString) ++
      maxRefAgeMs.map(refMaxAgeKey("tag", name) -> _.toString))
  }

  def dropTag(root: String, name: String): Long = {
    // checks the raw property (not tags()): a malformed hand-set value
    // must still be droppable, or the table could never be repaired
    val key = s"graft.ref.tag.$name"
    require(state(root).properties.get(key).exists(_.nonEmpty), s"no such tag: '$name'")
    setProperties(root, Map(key -> "",
      refCreatedKey("tag", name) -> "", refMaxAgeKey("tag", name) -> ""))
  }

  def tags(root: String): Map[String, Long] =
    state(root).properties.iterator.flatMap { case (k, v) =>
      // tolerate a malformed hand-set value (ALTER TABLE can write any
      // text here): one bad tag must not break .refs, expiry, or the
      // other tags
      if (k.startsWith("graft.ref.tag.") && v.nonEmpty)
        scala.util.Try(v.toLong).toOption.map(k.stripPrefix("graft.ref.tag.") -> _)
      else None
    }.toMap

  /** Time travel by tag name. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val t = tags(root)
    require(t.contains(name), s"no such tag: '$name' (have ${t.keys.mkString(", ")})")
    read(spark, root, Some(t(name)))
  }

  // ── branches (mutable named refs — the Nessie/Iceberg-branch
  //    workflow on the linear log) ──────────────────────────────────────
  // A branch is a named off-main lineage: its REF (`graft.ref.branch.
  // <name>` → base snapshot id) rides the table-properties machinery
  // like tags, and its WRITES are commits that carry the branch name +
  // base on their COMMIT properties — in the log (durable, orphan-safe,
  // expire-aware) but skipped by every main-lineage replay, the same
  // discipline as staged WAP snapshots. Branch state replays main up
  // to the base, then the branch's own commits; because each branch
  // commit records the base it was written under, historical branch
  // snapshots stay time-travelable even after a fast-forward advances
  // the ref (the base-epoch rule in Lineage). Publishing is Iceberg's
  // fast_forward: ONE main commit applying the branch's net file
  // changes by reference — no data copied, CDC sees one boundary —
  // allowed exactly when main has not moved past the base (the
  // ancestor precondition); diverged branches refuse, like Iceberg.
  // Branch writes never block main and main never blocks a branch:
  // cross-lineage commit-slot collisions slide (commitOrCleanup).
  //
  // Same caveat as WAP: branch data files land in data/, beneath
  // readStreamAppendOnly's directory-stream visibility — don't write
  // branches into a table consumed by the directory stream.

  private[lake] val branchNameProp = "graft.branch.name"
  private[lake] val branchBaseProp = "graft.branch.base"
  private def branchRefKey(name: String) = s"graft.ref.branch.$name"

  /** (name, base) when `c` is a branch-lineage commit. */
  private def branchInfo(c: Commit): Option[(String, Long)] =
    for {
      n <- c.properties.get(branchNameProp).filter(_.nonEmpty)
      b <- c.properties.get(branchBaseProp).flatMap(_.toLongOption)
    } yield (n, b)

  /** Off the main lineage: staged (WAP) or branch commit. */
  private def isOffMain(root: String, c: Commit): Boolean =
    effectiveStaged(root, c) || branchInfo(c).isDefined

  /** Live branches: name → CURRENT base snapshot id (the ref value;
    * advanced by fast_forward). Malformed hand-set values are
    * tolerated exactly like tags(). */
  def branches(root: String): Map[String, Long] =
    state(root).properties.iterator.flatMap { case (k, v) =>
      if (k.startsWith("graft.ref.branch.") && v.nonEmpty)
        v.toLongOption.map(k.stripPrefix("graft.ref.branch.") -> _)
      else None
    }.toMap

  /** Create branch `name` at `snapshotId` (default: current main
    * head). The ref commit is a plain set_properties — it replays,
    * checkpoints, and CDC-skips like any metadata change. */
  def createBranch(root: String, name: String,
      snapshotId: Option[Long] = None): Long = {
    require(name.trim.nonEmpty && !name.contains('.') && !name.contains('/'),
      s"invalid branch name '$name'")
    val base = snapshotId.getOrElse(state(root).snapshotId)
    require(listCommitIds(root).contains(base),
      s"cannot branch from snapshot $base: not in log")
    require(!isOffMainId(root, base),
      s"cannot branch from off-main snapshot $base: branches fork the MAIN " +
        "lineage (publish or fast-forward first)")
    require(!branches(root).contains(name), s"branch '$name' already exists")
    require(!tags(root).contains(name),
      s"a tag named '$name' already exists — refs share one namespace")
    setProperties(root, Map(branchRefKey(name) -> base.toString,
      refCreatedKey("branch", name) -> System.currentTimeMillis().toString))
  }

  /** createBranch with a per-ref retention override (RETAIN n): the
    * branch expires out of expire_snapshots once older than
    * `maxRefAgeMs`, regardless of the table-level default. */
  def createBranchRetained(root: String, name: String, maxRefAgeMs: Long,
      snapshotId: Option[Long] = None): Long = {
    createBranch(root, name, snapshotId)
    setProperties(root, Map(refMaxAgeKey("branch", name) -> maxRefAgeMs.toString))
  }

  /** Drop a branch ref. Its commits stay in the log (skipped by every
    * replay) until expire_snapshots ages them out — the abandoned-WAP
    * reclamation story. */
  def dropBranch(root: String, name: String): Long = {
    val key = branchRefKey(name)
    require(state(root).properties.get(key).exists(_.nonEmpty),
      s"no such branch: '$name'")
    setProperties(root, Map(key -> "",
      refCreatedKey("branch", name) -> "", refMaxAgeKey("branch", name) -> ""))
  }

  /** The branch's head snapshot id: its newest commit in the current
    * base epoch, or the base itself when nothing was written since
    * creation / the last fast-forward (Iceberg: a fresh branch points
    * at the snapshot it forked from). */
  def branchHeadId(root: String, name: String): Long = {
    val bs = branches(root)
    require(bs.contains(name),
      s"no such branch: '$name' (have ${bs.keys.mkString(", ")})")
    val base = bs(name)
    listCommitIds(root)
      .filter(id => id > base && branchInfoOfId(root, id).contains((name, base)))
      .sorted.lastOption.getOrElse(base)
  }

  /** Read the branch's current state (time travel to its head). */
  def readBranch(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, Some(branchHeadId(root, name)))

  /** Append rows to a branch. Plans against BRANCH state; the commit
    * stacks at the raw log head and is invisible to main. Schema is
    * table-level (Iceberg): branch writes conform to the branch's
    * schema and never evolve it. */
  def appendToBranch(spark: SparkSession, root: String, df: DataFrame,
      name: String): Long = {
    val head = branchHeadId(root, name)
    val base = branches(root)(name)
    val snap = conformAppendSchema(root, df, state(root, Some(head)),
      allowEvolution = false)
    val id = math.max(snap.snapshotId, listCommitIds(root).max) + 1
    val filled = fillWriteDefaults(df, snap.schema)
    val adds = writeDataFiles(spark, root, distribute(filled, snap.properties), id,
      snap.properties)
    commitOrCleanup(root, id, Commit(id, Some(snap.snapshotId),
      System.currentTimeMillis(), "branch_append", adds, Seq.empty,
      Map(branchNameProp -> name, branchBaseProp -> base.toString), None))
  }

  /** DELETE WHERE on a branch — always copy-on-write (branch delete
    * FILES would couple to the sequence rule at publish; a CoW
    * rewrite's only publish concern is victim liveness, checked by
    * fast_forward's ancestor precondition). Victims are chosen from
    * the BRANCH's file set by the same stats pruning the main path
    * uses; main keeps serving every file it owns. */
  def deleteWhereOnBranch(spark: SparkSession, root: String, condition: Column,
      name: String): Long = {
    val head = branchHeadId(root, name)
    val base = branches(root)(name)
    val p = snapshotPlanner(state(root, Some(head)))
    val (victims, deletes) =
      p.files(extractPreds(conditionExpr(spark, p.schema, condition), p.types))
    val id = math.max(head, listCommitIds(root).max) + 1
    val kept = readFiles(spark, root, p.schema, victims, deletes)
      .filter(!coalesce(condition, lit(false)))
    val adds = writeDataFiles(spark, root, kept, id, p.properties)
    commitOrCleanup(root, id, Commit(id, Some(head),
      System.currentTimeMillis(), "branch_overwrite", adds, victims.map(_.path),
      Map(branchNameProp -> name, branchBaseProp -> base.toString), None))
  }

  /** Keyed MERGE (upsert) on a branch — the plain two-clause shape
    * (matched → replace, not-matched → insert), planned entirely
    * against BRANCH state with the same key-bounds file pruning the
    * main-lineage merge uses. Copy-on-write like every branch write;
    * stale delete files a full-table branch merge leaves behind refer
    * only to retired paths (harmless, same as partial CoW on main).
    * SQL MERGE INTO a branch identifier is out of scope — INSERT and
    * DELETE cover the SQL surface; merge is the API door. */
  def mergeOnBranch(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String], name: String): Long = {
    val head = branchHeadId(root, name)
    val base = branches(root)(name)
    val p = snapshotPlanner(state(root, Some(head)))
    require(keyCols.nonEmpty && keyCols.forall(p.types.contains),
      s"bad merge keys: $keyCols")
    val (victims, deletes) = p.files(sourceKeyAnalysis(source, keyCols.map(k => (k, k)), p.types))
    val id = math.max(head, listCommitIds(root).max) + 1
    val src = source.select(p.schema.fieldNames.map(col).toIndexedSeq: _*)
    val kept = readFiles(spark, root, p.schema, victims, deletes)
      .join(src.select(keyCols.map(col): _*), keyCols, "left_anti")
    val adds = writeDataFiles(spark, root, kept.unionByName(src), id, p.properties)
    commitOrCleanup(root, id, Commit(id, Some(head),
      System.currentTimeMillis(), "branch_merge", adds, victims.map(_.path),
      Map(branchNameProp -> name, branchBaseProp -> base.toString), None))
  }

  /** Publish a branch onto main — Iceberg's
    * `CALL fast_forward(table, 'main', branch)`: requires main's head
    * to still BE the branch's base (the ancestor precondition; a
    * diverged main refuses, re-branch from the new head), then ONE
    * commit applies the branch's net file changes by reference and
    * advances the ref to the new main head, starting a fresh branch
    * epoch. Rows get their lineage ids here, when they enter main —
    * the cherrypick discipline. */
  def fastForward(root: String, name: String): Long = {
    val head = branchHeadId(root, name)
    val base = branches(root)(name)
    val mainSnap = state(root)
    // the ancestor precondition, honestly stated for a linear log: no
    // main commit since the base may have changed DATA or SCHEMA.
    // Property-only commits (this branch's own ref, tags, other refs)
    // are lineage-neutral — the branch still descends from main's
    // file state. Anything else (appends, deletes, evolutions, another
    // branch's publish) means main diverged: refuse, like Iceberg.
    val diverged = listCommitIds(root)
      .filter(id => id > base && id <= mainSnap.snapshotId)
      .filterNot(id => isOffMainId(root, id))
      .map(readCommit(root, _))
      .filterNot(_.operation == "set_properties")
    require(diverged.isEmpty,
      s"cannot fast-forward '$name': main advanced past the branch base $base " +
        s"(snapshot(s) ${diverged.map(c => s"${c.snapshotId}=${c.operation}")
          .mkString(", ")}) — the branch no longer descends from main's " +
        "head; create a fresh branch from the current head and re-apply")
    require(head != base, s"branch '$name' has no commits to publish")
    val branchSnap = state(root, Some(head))
    val basePaths = mainSnap.files.map(_.path).toSet
    val branchByPath = branchSnap.files.map(f => f.path -> f).toMap
    val adds = branchSnap.files.filterNot(f => basePaths.contains(f.path))
      .sortBy(_.path)
    val removes = (basePaths -- branchByPath.keySet).toSeq.sorted
    val id = listCommitIds(root).max + 1
    // by-reference cherrypick shape: no cleanup-on-failure here — the
    // adds are the BRANCH's files, still referenced by its commits
    writeAtomic(commitPath(root, id), toJson(stampRowLineage(
      Commit(id, Some(mainSnap.snapshotId), System.currentTimeMillis(), "fast_forward",
        adds, removes,
        Map(branchRefKey(name) -> id.toString,
          s"graft.branch.published.$name" -> head.toString), None),
      mainSnap.properties)))
    id
  }

  /** MERGE a DIVERGED branch into main — the Nessie merge on the
    * linear log. Nessie merges a branch by applying its changes onto
    * the target and conflicts when both sides changed the same
    * content; Nessie's content granularity is the whole TABLE, ours
    * is the FILE — strictly finer, so appends on both sides commute
    * (Iceberg's fast-append rule) and only genuine row-level overlap
    * refuses. One commit applies the branch's net file delta since
    * its base onto main's CURRENT head — main may have moved past the
    * base, which is exactly the divergence fast_forward refuses.
    *
    * Conflict rules, all loud (re-branch from the new head and
    * re-apply to resolve):
    *  - a file BOTH sides removed/rewrote since the base — the same
    *    rows were row-level-changed twice; no file-level resolution
    *    exists;
    *  - equality-delete files added by EITHER side since the base —
    *    after the lineages interleave, the sequence rule cannot scope
    *    an equality delete to "my lineage's files only", so it would
    *    kill rows the deleting side never saw; fold deletes into data
    *    (rewrite_equality_deletes / rewrite_data_files) first;
    *  - a position-delete/DV file on one side whose TARGET data file
    *    the other side removed — the delete's rows were rewritten
    *    out from under it (target discovery via the same
    *    deleteVictims read CDC uses: pos deletes name their victims,
    *    one small read per delete file);
    *  - a schema or partition-spec change on either side since the
    *    base — schema evolution publishes through fast_forward's
    *    clean-ancestor path only.
    *
    * The merge commit carries the branch's adds and removes BY
    * REFERENCE (no data copy), advances the ref to the merge id
    * (fresh epoch — historical branch snapshots keep time-traveling),
    * and rows entering main get their lineage ids here, the
    * cherrypick discipline. CDC sees ONE boundary: an append-only
    * branch surfaces as pure inserts; a branch with removes takes the
    * generic before-vs-after diff, exactly like a published rewrite. */
  def mergeBranch(spark: SparkSession, root: String, name: String): Long = {
    val base = branches(root).getOrElse(name,
      throw new IllegalArgumentException(s"no such branch: '$name'"))
    val head = branchHeadId(root, name)
    require(head != base, s"branch '$name' has no commits to merge")
    val mainSnap = state(root)
    val (adds, removes) =
      threeWayDelta(spark, root, name, "merge", base, mainSnap, head)
    val id = listCommitIds(root).max + 1
    // by-reference: the adds are the branch's files, still referenced
    // by its commits — no cleanup-on-failure, like fast_forward
    writeAtomic(commitPath(root, id), toJson(stampRowLineage(
      Commit(id, Some(mainSnap.snapshotId), System.currentTimeMillis(), "merge_branch",
        adds, removes,
        Map(branchRefKey(name) -> id.toString,
          s"graft.branch.published.$name" -> head.toString), None),
      mainSnap.properties)))
    id
  }

  /** Stage a branch's publish — the same merge delta mergeBranch
    * commits, but as an UNDECIDED transaction commit under
    * `decisionPath`: the catalog-branch building block, where N
    * tables stage their same-named branch's publish and ONE
    * put-if-absent decision file then makes all of them visible
    * atomically (Nessie's multi-table branch merge, composed from the
    * r12 branch-ref and decision-file primitives). The staged commit
    * carries the ref advance and published marker in its properties,
    * so the branch epoch flips exactly when the transaction commits —
    * never before. Adds are BY REFERENCE (the branch's own files), so
    * no cleanup-on-failure, like fast_forward. Returns None when the
    * branch has nothing to publish on this table. Rows entering main
    * this way keep the documented NULL `_row_id` of transaction
    * commits (no publishing commit to allocate from); a later rewrite
    * materializes ids. */
  private[lake] def stageBranchPublishInTxn(spark: SparkSession, root: String,
      name: String, decisionPath: String): Option[Long] = {
    val base = branches(root).getOrElse(name,
      throw new IllegalArgumentException(s"no such branch: '$name' on $root"))
    val head = branchHeadId(root, name)
    if (head == base) return None
    requireNoForeignPending(root, decisionPath)
    val mainSnap = state(root)
    val (adds, removes) =
      threeWayDelta(spark, root, name, "merge", base, mainSnap, head)
    val id = math.max(mainSnap.snapshotId, listCommitIds(root).max) + 1
    writeAtomic(commitPath(root, id), toJson(
      Commit(id, Some(mainSnap.snapshotId), System.currentTimeMillis(),
        "txn_branch_publish", adds, removes,
        Map(wapStagedProp -> "true", txnDecisionProp -> decisionPath,
          branchRefKey(name) -> id.toString,
          s"graft.branch.published.$name" -> head.toString), None)))
    Some(id)
  }

  /** The (adds, removes) a branch's net file delta since its base
    * contributes when its lineage re-joins main's CURRENT head —
    * shared by mergeBranch (delta lands ON main) and rebaseBranch
    * (delta re-parents UNDER the branch at a new base). The conflict
    * space is identical in both directions: the two lineages
    * interleave either way, so the same file-granular rules apply. */
  private def threeWayDelta(spark: SparkSession, root: String, name: String,
      verb: String, base: Long, mainSnap: Snapshot,
      head: Long): (Seq[FileEntry], Seq[String]) = {
    val baseSnap = state(root, Some(base))
    val branchSnap = state(root, Some(head))
    require(mainSnap.schema == baseSnap.schema,
      s"cannot $verb '$name': main changed schema since the branch base $base — " +
        "re-branch from the current head and re-apply")
    require(branchSnap.schema == baseSnap.schema,
      s"cannot $verb '$name': the branch changed schema; schema evolution " +
        "publishes through fast_forward (clean ancestor) only")
    require(mainSnap.properties.get(specProp) == baseSnap.properties.get(specProp) &&
        branchSnap.properties.get(specProp) == baseSnap.properties.get(specProp),
      s"cannot $verb '$name': the partition spec changed since the branch base")
    val basePaths = baseSnap.files.map(_.path).toSet
    val branchByPath = branchSnap.files.map(f => f.path -> f).toMap
    val mainPaths = mainSnap.files.map(_.path).toSet
    val adds = branchSnap.files.filterNot(f => basePaths.contains(f.path)).sortBy(_.path)
    val removes = (basePaths -- branchByPath.keySet).toSeq.sorted
    val mainRemoved = basePaths -- mainPaths
    val both = removes.filter(mainRemoved.contains)
    require(both.isEmpty,
      s"cannot $verb '$name': both main and the branch rewrote file(s) " +
        s"${both.take(3).mkString(", ")}${if (both.size > 3) "…" else ""} since " +
        s"base $base — the same rows changed on both sides; re-branch and re-apply")
    val mainNewFiles = mainSnap.files.filterNot(f => basePaths.contains(f.path))
    val eqSides = Seq("the branch" -> adds, "main" -> mainNewFiles)
      .filter(_._2.exists(_.content.contains(2))).map(_._1)
    require(eqSides.isEmpty,
      s"cannot $verb '$name': ${eqSides.mkString(" and ")} added equality-delete " +
        "file(s) since the base, whose sequence-rule scope cannot survive the " +
        "lineage interleave — fold them (rewrite_equality_deletes) and retry")
    def overlap(deletes: Seq[FileEntry], removedPaths: Set[String]): Seq[String] =
      if (deletes.isEmpty || removedPaths.isEmpty) Seq.empty
      else deleteVictims(spark, root, mainSnap.schema, deletes,
        baseSnap.files.filter(f => f.isData && removedPaths.contains(f.path)))
        .map(_.path)
    val branchOnGone = overlap(adds.filter(_.isDelete), mainRemoved)
    require(branchOnGone.isEmpty,
      s"cannot $verb '$name': the branch position-deleted rows from file(s) " +
        s"${branchOnGone.take(3).mkString(", ")} that main has since rewritten")
    val mainOnGone = overlap(mainNewFiles.filter(_.isDelete), removes.toSet)
    require(mainOnGone.isEmpty,
      s"cannot $verb '$name': main position-deleted rows from file(s) " +
        s"${mainOnGone.take(3).mkString(", ")} that the branch rewrote — the " +
        "branch's rewrite would resurrect them")
    (adds, removes)
  }

  /** REBASE a branch onto main's current head — Nessie's other verb,
    * completing the branch lifecycle (merge publishes the branch's
    * work onto main; rebase carries it FORWARD so work continues after
    * main moved). The branch's net file delta since its base re-parents
    * as ONE off-main squash commit in a fresh epoch based at main's
    * head, then the ref flips to that base. Same file-granular conflict
    * rules as merge (the lineages interleave either way); no data
    * bytes copy (by-reference, like fast_forward); rows stay off-main
    * so lineage ids still mint at publish time.
    *
    * Crash ordering: the squash commit lands FIRST but carries the NEW
    * base, so it is invisible in the current epoch; a crash before the
    * ref flip leaves the branch intact at the old base and the orphan
    * squash ages out with expire_snapshots — never a half-rebased ref.
    *
    * An empty branch (no commits since base/last publish) re-points to
    * main's head with just the ref flip — Nessie's trivial rebase.
    * History is not rewritten: old-epoch branch snapshots keep
    * time-traveling by id until expired. */
  def rebaseBranch(spark: SparkSession, root: String, name: String): Long = {
    val base = branches(root).getOrElse(name,
      throw new IllegalArgumentException(s"no such branch: '$name'"))
    val head = branchHeadId(root, name)
    val mainSnap = state(root)
    val newBase = mainSnap.snapshotId
    // "moved" means fast_forward's divergence: a non-off-main commit
    // that changed data or schema. Property-only movement (ref
    // commits, tags) is lineage-neutral — rebasing over it would be
    // pure ref churn, and fast_forward already publishes across it.
    val moved = listCommitIds(root)
      .filter(id => id > base && id <= newBase)
      .filterNot(id => isOffMainId(root, id))
      .exists(id => readCommit(root, id)
        .operation != "set_properties")
    require(moved,
      s"branch '$name': main has not advanced past base $base — nothing to " +
        "rebase onto (publish with fast_forward, or keep working)")
    if (head == base) {
      setProperties(root, Map(branchRefKey(name) -> newBase.toString))
      return newBase
    }
    val (adds, removes) =
      threeWayDelta(spark, root, name, "rebase", base, mainSnap, head)
    val id = listCommitIds(root).max + 1
    // by-reference like fast_forward: the adds are the branch's files,
    // still referenced by its old-epoch commits — no cleanup-on-failure
    writeAtomic(commitPath(root, id), toJson(
      Commit(id, Some(newBase), System.currentTimeMillis(), "branch_rebase",
        adds, removes,
        Map(branchNameProp -> name, branchBaseProp -> newBase.toString), None)))
    setProperties(root, Map(branchRefKey(name) -> newBase.toString))
    id
  }

  // ── WAP: write-audit-publish staged commits ─────────────────────────
  // Iceberg's spark.wap.id workflow on the linear log: a staged commit
  // is written into the log (its data files are durable and
  // log-referenced, so orphan cleanup never eats them) but is NOT part
  // of the main lineage — replay folds past it, so plain reads, CDC,
  // incremental reads, and every planner ignore it until published.
  // The AUDIT reads it explicitly (`VERSION AS OF <staged id>`);
  // PUBLISH is cherrypick_snapshot, a new head commit re-applying the
  // staged adds BY REFERENCE (no data copy — the Iceberg fast-append
  // cherry-pick); ABANDON is a metadata commit that permanently
  // retires the staged id (its files reclaim via expire_snapshots +
  // remove_orphan_files once the staged commit ages out).
  //
  // Caveat (same family as auto-compact's): readStreamAppendOnly
  // streams the data DIRECTORY, beneath snapshot visibility — staged
  // files would reach that stream before publication. Don't stage
  // writes into a table consumed by the directory stream.

  /** On the COMMIT's properties, not the table's: replay skips staged
    * commits wholesale, so the markers never leak into table props. */
  val wapStagedProp = "graft.wap.staged"
  val wapIdProp = "graft.wap.id"

  private def isStaged(c: Commit): Boolean =
    c.properties.get(wapStagedProp).contains("true")

  /** The session's active WAP id FOR THIS TABLE: `spark.wap.id` is
    * set and the table opted in via `write.wap.enabled`. Every SQL
    * write path consults this — a set wap id must never silently
    * bypass staging (it either stages or refuses loudly). */
  def activeWapId(spark: SparkSession, root: String): Option[String] =
    spark.conf.getOption("spark.wap.id").map(_.trim).filter(_.nonEmpty)
      .filter(_ => state(root).properties.get("write.wap.enabled").contains("true"))

  /** Stage an append under a WAP id: durable + auditable, invisible to
    * main until cherrypicked. No auto-compact (maintenance must not
    * commit against a staged base). */
  def appendStaged(spark: SparkSession, root: String, df: DataFrame,
      wapId: String): Long = {
    require(wapId.trim.nonEmpty, "wap id must be non-empty")
    val snap = conformAppendSchema(root, df, state(root), allowEvolution = false)
    // raw-log-head + 1, NOT main-head + 1: staged commits STACK (N
    // stages under one wap id, published together by cherrypickWap),
    // while main data writes still block on the first pending stage
    val id = math.max(snap.snapshotId, listCommitIds(root).max) + 1
    val filled = fillWriteDefaults(df, snap.schema)
    val adds = writeDataFiles(spark, root, distribute(filled, snap.properties), id, snap.properties)
    commitOrCleanup(root, id, Commit(id, Some(snap.snapshotId),
      System.currentTimeMillis(), "wap_append", adds, Seq.empty,
      Map(wapStagedProp -> "true", wapIdProp -> wapId), None))
  }

  /** Stage a copy-on-write DELETE/overwrite under a WAP id: the
    * rewrite runs now (files durable), but main keeps serving the
    * victims until cherrypick publishes the swap. Row-level stages
    * are ALWAYS copy-on-write — staged MoR delete files would
    * interact with the sequence rule at publish time; a CoW rewrite
    * has no such coupling, only the victim-liveness check cherrypick
    * performs. */
  def overwriteWhereStaged(spark: SparkSession, root: String, condition: Column,
      wapId: String, replacement: Option[DataFrame] = None): Long = {
    require(wapId.trim.nonEmpty, "wap id must be non-empty")
    overwriteWhereImpl(spark, root, condition, replacement, Nil,
      ckptPlanner(spark, root, None),
      stagedProps = Map(wapStagedProp -> "true", wapIdProp -> wapId),
      opName = "wap_overwrite")
  }

  /** Staged DELETE WHERE (audit a destructive delete before it goes
    * live): sugar over [[overwriteWhereStaged]]. */
  def deleteWhereStaged(spark: SparkSession, root: String, condition: Column,
      wapId: String): Long =
    overwriteWhereStaged(spark, root, condition, wapId)

  /** Publish a staged snapshot onto the main head:
    * `CALL graft_system.cherrypick_snapshot(table, snapshot_id)`.
    * Metadata-only — the new commit lists the staged adds AND removes
    * by reference. Append-only stages have nothing to conflict-check;
    * a row-level stage validates every victim is STILL live on main
    * (a main commit that rewrote one since means the staged rewrite
    * is based on rows that no longer exist — refuse, re-stage). */
  def cherrypickSnapshot(root: String, stagedId: Long): Long = {
    require(listCommitIds(root).contains(stagedId),
      s"no snapshot $stagedId in the log (expired or never existed)")
    val c = readCommit(root, stagedId)
    require(isStaged(c),
      s"cherrypick_snapshot publishes staged (WAP) snapshots; " +
        s"$stagedId is a committed '${c.operation}'")
    require(!c.properties.contains(txnDecisionProp),
      s"snapshot $stagedId belongs to a cross-table transaction — it " +
        "publishes atomically with its group via GraftTransaction.commit()")
    val snap = state(root)
    require(!snap.properties.contains(s"graft.wap.published.$stagedId"),
      s"staged snapshot $stagedId is already published")
    require(!snap.properties.contains(s"graft.wap.abandoned.$stagedId"),
      s"staged snapshot $stagedId was abandoned")
    // Conflict validation (Iceberg's cherry-pick aborts on conflicts):
    // equality deletes apply by the Iceberg sequence rule, and here a
    // file's sequence derives from its NAME's snapshot prefix — the
    // staged files carry the STAGE id. An equality delete committed
    // between stage and publish would therefore backdate the published
    // rows under itself (they were not live when it ran). Refuse and
    // ask for a re-stage rather than silently delete the new rows.
    val eqAfter = listCommitIds(root).filter(_ > stagedId)
      .map(readCommit(root, _))
      .filter(c => !effectiveStaged(root, c) && c.adds.exists(_.content.contains(2)))
    require(eqAfter.isEmpty,
      s"cannot cherrypick $stagedId: equality delete(s) landed after it " +
        s"(snapshot(s) ${eqAfter.map(_.snapshotId).mkString(", ")}) and would " +
        "wrongly apply to the published rows — re-stage the batch instead")
    // row-level stage: every victim the staged rewrite replaces must
    // still be live on main, else the swap is based on stale rows
    val live = snap.files.map(_.path).toSet
    val gone = c.removes.filterNot(live.contains)
    require(gone.isEmpty,
      s"cannot cherrypick $stagedId: ${gone.size} file(s) it rewrites were " +
        s"changed on main since the stage (${gone.take(3).mkString(", ")}…) — " +
        "re-stage against the current state")
    // id = raw log head + 1 (NOT main head + 1): the pending staged
    // commit occupies main-head+1, and publishing must land after it
    val id = listCommitIds(root).max + 1
    // rows get their lineage ids HERE — when they enter main lineage —
    // from the MAIN counter, so commits that landed between stage and
    // publish can never have collided with them
    writeAtomic(commitPath(root, id), toJson(stampRowLineage(
      Commit(id, Some(snap.snapshotId),
        System.currentTimeMillis(), "cherrypick", versionedAdds(c), c.removes,
        Map(s"graft.wap.published.$stagedId" ->
          c.properties.getOrElse(wapIdProp, "")), None),
      snap.properties)))
    id
  }

  /** Publish EVERY unpublished staged snapshot carrying `wapId` in ONE
    * atomic cherrypick — the remaining Nessie-branch workflow (stage a
    * whole batch of commits, audit them together, publish once)
    * without a commit DAG: the publish commit lists the UNION of the
    * group's adds and removes by reference, so main moves in a single
    * snapshot and the CDC feed sees exactly one boundary. Group
    * members are independent stages against main (the staging writers
    * always stage on the main head — stacking does not exist), so the
    * only intra-group conflict is two row-level stages rewriting the
    * same file, which would double-apply its replacement rows —
    * refused, like every other conflict, in favor of a re-stage.
    * Cross-group rules are the single-snapshot publish's, validated
    * from the group's EARLIEST member. Metadata-plane: one pass over
    * the retained log's commit JSONs (expire_snapshots bounds it). */
  def cherrypickWap(root: String, wapId: String): Long = {
    require(wapId.trim.nonEmpty, "wap id must be non-empty")
    val snap = state(root)
    val all = listCommitIds(root).sorted
      .map(readCommit(root, _))
    val group = all.filter(c => isStaged(c) &&
        c.properties.get(wapIdProp).contains(wapId))
      .filterNot(c =>
        snap.properties.contains(s"graft.wap.published.${c.snapshotId}") ||
          snap.properties.contains(s"graft.wap.abandoned.${c.snapshotId}"))
    require(group.nonEmpty, s"no unpublished staged snapshots carry wap id '$wapId'")
    val minId = group.map(_.snapshotId).min
    val eqAfter = all.filter(c => c.snapshotId > minId && !effectiveStaged(root, c) &&
      c.adds.exists(_.content.contains(2)))
    require(eqAfter.isEmpty,
      s"cannot publish wap id '$wapId': equality delete(s) landed after its " +
        s"first stage (snapshot(s) ${eqAfter.map(_.snapshotId).mkString(", ")}) " +
        "and would wrongly apply to the published rows — re-stage the batch")
    val removes = group.flatMap(_.removes)
    require(removes.distinct.size == removes.size,
      s"cannot publish wap id '$wapId': two staged snapshots rewrite the same " +
        s"file(s) ${removes.diff(removes.distinct).distinct.take(3).mkString(", ")} " +
        "— their row-level changes would double-apply; re-stage them serially")
    val live = snap.files.map(_.path).toSet
    val gone = removes.filterNot(live.contains)
    require(gone.isEmpty,
      s"cannot publish wap id '$wapId': ${gone.size} file(s) it rewrites were " +
        s"changed on main since staging (${gone.take(3).mkString(", ")}…) — " +
        "re-stage against the current state")
    val id = listCommitIds(root).max + 1
    writeAtomic(commitPath(root, id), toJson(stampRowLineage(
      Commit(id, Some(snap.snapshotId), System.currentTimeMillis(), "cherrypick",
        group.flatMap(versionedAdds), removes,
        group.map(c => s"graft.wap.published.${c.snapshotId}" -> wapId).toMap,
        None),
      snap.properties)))
    id
  }

  /** Permanently retire a staged snapshot without publishing it. The
    * marker commit moves the raw log head past the staged id, so main
    * data writes unblock; the staged files become reclaimable once
    * expire_snapshots drops the staged commit itself. */
  def abandonStagedSnapshot(root: String, stagedId: Long): Long = {
    require(listCommitIds(root).contains(stagedId),
      s"no snapshot $stagedId in the log (expired or never existed)")
    require(isStagedId(root, stagedId),
      s"abandon_staged_snapshot retires staged (WAP) snapshots only; " +
        s"$stagedId is committed")
    require(!readCommit(root, stagedId)
        .properties.contains(txnDecisionProp),
      s"snapshot $stagedId belongs to a cross-table transaction — retire " +
        "its whole group via GraftTransaction.abort()")
    val snap = state(root)
    require(!snap.properties.contains(s"graft.wap.published.$stagedId"),
      s"staged snapshot $stagedId is already published")
    require(!snap.properties.contains(s"graft.wap.abandoned.$stagedId"),
      s"staged snapshot $stagedId was already abandoned")
    commit(root, listCommitIds(root).max, "wap_abandon", Seq.empty, Seq.empty,
      Map(s"graft.wap.abandoned.$stagedId" -> "true"))
  }

  // ── cross-table transactions ────────────────────────────────────────
  // The Nessie capability Iceberg itself lacks: N tables change in ONE
  // atomic decision. Writes stage as invisible commits (the WAP
  // discipline) carrying the absolute path of a DECISION file; the
  // transaction commits by creating that file (put-if-absent — the
  // single atomic event) with content "committed". Replay consults the
  // decision: a staged commit whose decision reads "committed" is a
  // main-lineage commit AT ITS OWN SLOT, so every table's staged
  // changes become visible in the same instant, with no per-table
  // publish step to crash between — all-or-nothing across tables by
  // construction.
  //
  // Why in-place visibility is safe for consumers: a pending stage
  // occupies main-head+1, so main data writes BLOCK until the decision
  // (the WAP slot rule), and commit() additionally validates the
  // stages are still the newest commits on every table — therefore no
  // CDC/incremental consumer can have latched an offset PAST the
  // staged ids before they become visible, and the feed serves them on
  // its next poll. (A metadata-only commit racing into the
  // microseconds between that validation and the decision write is the
  // one window where a consumer polling at exactly that instant could
  // latch past a stage — the same order-of-arrival caveat any
  // optimistic catalog carries.)
  //
  // Caches: the decision flips visibility without touching the commit
  // log, so state() results cached before the decision go stale until
  // any next commit. commit() therefore SEALS each table with a
  // best-effort property commit right after deciding — the seal busts
  // caches and gives CDC a fresh head; a crash between decision and
  // seal leaves the transaction fully committed (fresh replays see it)
  // and recoverTransactions completes the seals.
  //
  // Row lineage: txn rows keep a NULL _row_id (the documented staged-
  // file state) — in-place visibility has no publishing commit to
  // allocate ids from, and a later rewrite materializes them.

  private[lake] val txnDecisionProp = "graft.txn.decision"

  /** Decision contents memoize HARD once seen — a decision file is
    * immutable after its put-if-absent creation. Absence is never
    * cached (the file may land any moment). */
  private val decisionMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[lake] def decisionOf(path: String): Option[String] = {
    val m = decisionMemo.get(path)
    if (m != null) return Some(m)
    if (decisionMemo.size > 4096) decisionMemo.clear()   // bounded
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else {
      val v = Files.readString(p).trim
      decisionMemo.put(path, v)
      Some(v)
    }
  }

  /** Per-table MIRROR of a transaction's decision, written by the seal
    * into the table's OWN log dir: a committed transaction's visibility
    * must not depend forever on the external decision file — with the
    * mirror, a table directory is self-contained (relocatable, works
    * after the txn dir is retired). The original decision file remains
    * authoritative for the decision→seal window. */
  private def decisionMirror(root: String, txnId: String): String =
    s"$root/_graft_log/txn-$txnId.decision"

  private def txnIdOfDecision(path: String): String =
    Paths.get(path).getFileName.toString.stripSuffix(".decision")

  /** The verdict, from the decision file or the table-local mirror —
    * and on a fleet follower, from the STORE on demand: a decision
    * whose seal crashed before its property commit lands remotely with
    * no new slot, so no poll ever lists it; the mounted pull fetches
    * the table-local mirror exactly when classification needs it
    * (best-effort — still-absent everywhere = still in doubt). */
  private def decisionFor(root: String, path: String): Option[String] = {
    val mirror = decisionMirror(root, txnIdOfDecision(path))
    decisionOf(path).orElse(decisionOf(mirror)).orElse {
      val p = rootPath(root)
      LakeStore.at(p).pullLogObject(p, s"_graft_log/txn-${txnIdOfDecision(path)}.decision")
      decisionOf(mirror)
    }
  }

  private def txnCommitted(root: String, c: Commit): Boolean =
    c.properties.get(txnDecisionProp)
      .exists(p => decisionFor(root, p).contains("committed"))

  /** Staged for VISIBILITY purposes: a raw staged commit whose
    * transaction has committed is a main-lineage commit. */
  private def effectiveStaged(root: String, c: Commit): Boolean =
    isStaged(c) && !txnCommitted(root, c)

  /** Begin a cross-table transaction. `txnDir` holds the decision
    * files — ONE directory per catalog/warehouse is the intended
    * shape, so unrelated transactions never contend. */
  def beginTransaction(txnDir: String): GraftTransaction = {
    Files.createDirectories(Paths.get(txnDir))
    new GraftTransaction(txnDir, java.util.UUID.randomUUID().toString)
  }

  /** First-writer-wins arbitration: commit() and abort() race to
    * create the SAME file; put-if-absent picks exactly one verdict. */
  private[graft] def decide(decisionPath: String, verdict: String): Unit =
    try writeAtomic(Paths.get(decisionPath), verdict)
    catch { case e: IllegalStateException =>
      // Under remote arbitration the loser can observe its 412 before
      // the winner's local decision file exists — wait it out before
      // reading the verdict (the same hazard class commitOrCleanup's
      // occupant classifier guards against).
      var waited = 0
      while (decisionOf(decisionPath).isEmpty && waited < 50) {
        Thread.sleep(10); waited += 1
      }
      val existing = decisionOf(decisionPath)
      if (!existing.contains(verdict)) throw new IllegalStateException(
        s"transaction already decided as ${existing.getOrElse("?")}", e)
    }

  /** No stage may stack on a FOREIGN pending stage (another
    * transaction's, or a plain WAP stage): two undecided groups
    * interleaved at the tail would let the later one become visible
    * first and a consumer latch past the earlier — refuse at stage
    * time, the same serialization the WAP slot rule gives main
    * writes. */
  private def requireNoForeignPending(root: String, decisionPath: String): Unit = {
    val ids = listCommitIds(root)
    val mh = mainHeadId(root, ids)
    val foreign = ids.filter(id => id > mh && isStagedId(root, id)).filterNot { id =>
      readCommit(root, id)
        .properties.get(txnDecisionProp).contains(decisionPath)
    }
    require(foreign.isEmpty,
      s"cannot stage into $root: pending staged snapshot(s) " +
        s"${foreign.mkString(", ")} from another transaction or WAP group — " +
        "decide or abandon them first")
  }

  private[lake] def stageAppendInTxn(spark: SparkSession, root: String,
      df: DataFrame, decisionPath: String): Long = {
    requireNoForeignPending(root, decisionPath)
    val snap = conformAppendSchema(root, df, state(root), allowEvolution = false)
    val id = math.max(snap.snapshotId, listCommitIds(root).max) + 1
    val filled = fillWriteDefaults(df, snap.schema)
    val adds = writeDataFiles(spark, root, distribute(filled, snap.properties), id,
      snap.properties)
    commitOrCleanup(root, id, Commit(id, Some(snap.snapshotId),
      System.currentTimeMillis(), "txn_append", adds, Seq.empty,
      Map(wapStagedProp -> "true", txnDecisionProp -> decisionPath), None))
  }

  private[lake] def stageOverwriteInTxn(spark: SparkSession, root: String,
      condition: Column, replacement: Option[DataFrame],
      decisionPath: String): Long = {
    requireNoForeignPending(root, decisionPath)
    overwriteWhereImpl(spark, root, condition, replacement, Nil,
      ckptPlanner(spark, root, None),
      stagedProps = Map(wapStagedProp -> "true", txnDecisionProp -> decisionPath),
      opName = "txn_overwrite")
  }

  /** Best-effort post-decision seal: a tiny property commit that busts
    * state caches and advances the head for CDC consumers. Never
    * fails the (already durable) transaction. */
  private[lake] def sealTxn(root: String, txnId: String,
      stagedIds: Seq[Long], verdict: String): Unit = {
    // mirror the verdict into the table's own log dir FIRST: once
    // sealed, this table's committed-txn visibility no longer depends
    // on the external decision file (self-contained / relocatable)
    try writeAtomic(Paths.get(decisionMirror(root, txnId)), verdict)
    catch { case _: IllegalStateException => () }   // already mirrored
    val props =
      if (verdict == "committed") Map(s"graft.txn.sealed.$txnId" -> "true")
      else stagedIds.map(i => s"graft.wap.abandoned.$i" -> "true").toMap +
        (s"graft.txn.sealed.$txnId" -> "aborted")
    var attempts = 0
    while (attempts < 5) {
      try { setProperties(root, props); return }
      catch { case _: IllegalStateException => attempts += 1 }   // slot race: retry
    }
  }

  /** A cross-table CONSISTENT read point — the read-side complement of
    * GraftTransaction (Nessie reads N tables at one commit hash; on
    * per-table logs, per-table snapshot ids are pinned instead): every
    * cross-table transaction is either fully visible at ALL returned
    * ids or fully invisible. Reads then time-travel: `read(s, root,
    * Some(ids(root)))`.
    *
    * Why optimistic double-capture suffices: a PENDING transaction's
    * stages sit ABOVE every table's main head (the WAP slot rule), so
    * heads captured while it is undecided exclude it everywhere; once
    * DECIDED, its stages join main in place, which MOVES the head of
    * every staged table with no new commit needed — so a decision
    * landing between the two capture passes shows up as a changed head
    * and retries. Two equal passes therefore bracket no decision, and
    * the pinned ids agree on every transaction. */
  def consistentSnapshot(roots: Seq[String], retries: Int = 8): Map[String, Long] = {
    def capture(): Map[String, Long] =
      roots.map(r => r -> state(r).snapshotId).toMap
    var prev = capture()
    var attempt = 0
    while (attempt < retries) {
      val cur = capture()
      if (cur == prev) return cur
      prev = cur
      // A changed capture means a writer landed mid-bracket. Racing it
      // at full speed keeps losing to a steady writer whose commit
      // cadence is near the capture pair's duration; bounded
      // exponential backoff WITH jitter desynchronizes the capture
      // pair from the writer's rhythm so an equal bracket lands
      // without the caller looping. Cap 400 ms — a pin is a read-path
      // primitive, not a lock.
      val base = math.min(400L, 25L << math.min(attempt, 4))
      Thread.sleep(base / 2 +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(base))
      attempt += 1
    }
    throw new IllegalStateException(
      s"no consistent read point after $retries backed-off retries — tables " +
        s"${roots.mkString(", ")} are being written faster than a capture " +
        "pair completes; retry or pause cross-table transactions")
  }

  /** Complete the seals of transactions that DECIDED but crashed
    * before sealing: scans the tail staged commits, and for each whose
    * decision file exists, applies the committed seal or the aborted
    * abandon-markers. Idempotent; returns the sealed decision paths. */
  def recoverTransactions(root: String): Seq[String] = {
    val ids = listCommitIds(root)
    val mh = mainHeadId(root, ids)
    // committed stages are on-main now (isStagedId is decision-aware),
    // so scan ABOVE the pre-decision head by raw parse
    val tail = ids.filter(_ > math.min(mh, ids.max - 64))   // bounded scan
      .map(readCommit(root, _))
      .filter(isStaged)
    val decided = tail.groupBy(_.properties.get(txnDecisionProp)).collect {
      case (Some(path), cs) if decisionOf(path).isDefined => (path, cs)
    }
    decided.toSeq.sortBy(_._1).map { case (path, cs) =>
      val verdict = decisionOf(path).get
      val txnId = Paths.get(path).getFileName.toString.stripSuffix(".decision")
      val already = state(root).properties.contains(s"graft.txn.sealed.$txnId")
      if (!already) sealTxn(root, txnId, cs.map(_.snapshotId), verdict)
      path
    }
  }

  private val entriesCols = Seq("status", "snapshot_id", "file_path", "content",
    "record_count", "file_size_in_bytes", "partition")

  /** The checkpoint parquet's `partition` map rendered as the same
    * `k=v/k=v` text partString produces driver-side. */
  private def partStringCol(m: Column): Column =
    array_join(transform(array_sort(map_keys(m)),
      k => concat(k, lit("="), element_at(m, k))), "/")

  /** (file count, threshold) from a parsed ckptmeta — THE
    * driver-vs-distributed decision, shared by ckptPlanner and the
    * metadata views so the two planners can never split. */
  private def scaleOf(meta: Commit): (Long, Long) =
    (meta.properties.get("graft.ckpt.file-count").map(_.toLong).getOrElse(0L),
      meta.properties.get("graft.planning.distributed-threshold")
        .map(_.toLong).getOrElse(1000L))

  private def ckptScale(root: String, k: Long): (Long, Long) = {
    val metaPath = logDir(root).resolve(s"ckptmeta-$k.json")
    if (!Files.exists(metaPath)) (0L, Long.MaxValue)
    else scaleOf(parseCommit(Files.readString(metaPath)))
  }

  /** `.entries` metadata view (the Iceberg manifest-entries sibling):
    * one row per (commit, file) ACTION across the retained log —
    * status 1 = added, 2 = removed. A removed entry resolves its
    * size/records from the add that introduced it (−1 when that add
    * predates the oldest retained commit — only a checkpoint knows it
    * then). The driver holds O(retained-log actions): below the
    * planning threshold pre-log removes resolve through the JSON
    * checkpoint seed; above it the resolution is a distributed join
    * against `ckptfiles-K.parquet`, so the checkpoint's O(table) file
    * list never materializes driver-side (same split as planScan). */
  def entriesTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val ids = listCommitIds(root)
    val ck = seedCheckpointIds(root).filter(_ <= ids.min).sorted.lastOption
    // actions across the retained log; removes resolve through the
    // adds seen so far in the window (always newer than any seed)
    val within = scala.collection.mutable.Map.empty[String, FileEntry]
    val acts = ids.flatMap { id =>
      val c = readCommit(root, id)
      c.adds.foreach(f => within(f.path) = f)
      c.adds.map(f => (1, c.snapshotId, f.path, Option(f))) ++
        c.removes.sorted.map(p => (2, c.snapshotId, p, within.get(p)))
    }
    def row(status: Int, snap: Long, path: String, f: Option[FileEntry]) =
      (status, snap, path, f.map(_.content.getOrElse(0)).getOrElse(0),
        f.map(_.records).getOrElse(-1L), f.map(_.sizeBytes).getOrElse(-1L),
        f.map(partString).getOrElse(""))
    val unresolved = acts.collect { case (2, snap, p, None) => (snap, p) }
    val ckParquet = ck.map(k => logDir(root).resolve(s"ckptfiles-$k.parquet"))
      .filter(Files.exists(_))
    val distributed = ckParquet.isDefined && unresolved.nonEmpty && {
      val (count, threshold) = ckptScale(root, ck.get)
      count >= threshold
    }
    if (!distributed) {
      // seed only when something needs it: the sub-threshold JSON path
      val seed = scala.collection.mutable.Map.empty[String, FileEntry]
      if (unresolved.nonEmpty) ck.foreach { k =>
        checkpointCommit(root, k).adds.foreach(f => seed(f.path) = f)
      }
      acts.map { case (st, snap, p, f) =>
        row(st, snap, p, f.orElse(if (st == 2) seed.get(p) else None))
      }.toDF(entriesCols: _*)
    } else {
      val resolvedDf = acts.collect {
        case (st, snap, p, f) if st == 1 || f.isDefined => row(st, snap, p, f)
      }.toDF(entriesCols: _*)
      val ckDf = spark.read.parquet(ckParquet.get.toString)
      val joined = unresolved.toDF("snapshot_id", "file_path")
        .join(ckDf, col("file_path") === ckDf("path"), "left")
        .select(lit(2).as("status"), col("snapshot_id"), col("file_path"),
          coalesce(col("content"), lit(0)).as("content"),
          coalesce(col("records"), lit(-1L)).as("record_count"),
          coalesce(col("sizeBytes"), lit(-1L)).as("file_size_in_bytes"),
          coalesce(partStringCol(col("partition")), lit("")).as("partition"))
      resolvedDf.unionByName(joined)
    }
  }

  /** `.metadata_log_entries` metadata view (the Iceberg sibling): the
    * table-metadata history — one row per retained commit record. */
  def metadataLogEntriesTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    listCommitIds(root).map { id =>
      val c = readCommit(root, id)
      (c.timestampMs, f"_graft_log/$id%010d.json", c.snapshotId)
    }.toDF("timestamp_ms", "file", "latest_snapshot_id")
  }

  /** `.all_files` metadata view: every data/delete file referenced by
    * ANY retained commit or checkpoint — live or since removed (the
    * Iceberg all_files/all_data_files family, collapsed). Below the
    * planning threshold the driver materializes the union directly;
    * above it the checkpoints' O(table) file lists stay in their
    * `ckptfiles-K.parquet` form and the union, first-wins dedup, and
    * live flag all run as a Spark job — the driver holds only the
    * retained commit actions (planScan's split, applied to the
    * diagnostics plane). */
  def allFilesTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val ids = listCommitIds(root)
    val ckIds = seedCheckpointIds(root)
    def driverPath: DataFrame = {
      val all = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
      (ckIds.map(k => checkpointCommit(root, k)) ++
        ids.map(readCommit(root, _)))
        .foreach(c => c.adds.foreach(f => all.getOrElseUpdate(f.path, f)))
      val livePaths = state(root).files.map(_.path).toSet
      all.values.toSeq.sortBy(_.path)
        .map(f => (f.path, f.content.getOrElse(0), f.records, f.sizeBytes,
          partString(f), livePaths.contains(f.path)))
        .toDF("file_path", "content", "record_count", "file_size_in_bytes",
          "partition", "live")
    }
    val parquets = ckIds.map(k => k -> logDir(root).resolve(s"ckptfiles-$k.parquet"))
    val overThreshold = ckIds.nonEmpty && {
      val (count, threshold) = ckptScale(root, ckIds.max)
      count >= threshold
    }
    if (!overThreshold || parquets.exists(p => !Files.exists(p._2)))
      return driverPath
    // post-checkpoint tail, last action per path wins (replayState's
    // discipline) — it decides liveness for every tail-touched path
    val commits = ids.map(readCommit(root, _))
    val delta = scala.collection.mutable.LinkedHashMap.empty[String, Option[FileEntry]]
    commits.filter(_.snapshotId > ckIds.max).foreach { c =>
      c.removes.foreach(p => delta(p) = None)
      c.adds.foreach(e => delta(e.path) = Some(e))
    }
    // first-wins union: checkpoints in id order, then retained commits
    val ckDfs = parquets.zipWithIndex.map { case ((_, p), i) =>
      spark.read.parquet(p.toString).select(lit(i).as("_src"), col("path"),
        col("content"), col("records"), col("sizeBytes"),
        partStringCol(col("partition")).as("partition"))
    }
    val commitAdds = commits.zipWithIndex.flatMap { case (c, i) =>
      c.adds.map(f => (parquets.size + i, f.path, f.content.getOrElse(0),
        f.records, f.sizeBytes, partString(f)))
    }.toDF("_src", "path", "content", "records", "sizeBytes", "partition")
    val union = (ckDfs :+ commitAdds).reduce(_ unionByName _)
    val byPath = Window.partitionBy(col("path"))
    val latestSrc = parquets.size - 1
    // tail liveness joins in as a DataFrame (last action per path:
    // add = live, remove = dead) — no isin literal list, so a long
    // uncheckpointed tail never falls back to the O(table) driver
    // path this view exists to avoid; untouched paths are live iff
    // the LATEST checkpoint lists them
    val tailDf = delta.toSeq.map { case (p, f) => (p, f.isDefined) }
      .toDF("_tpath", "_tail_live")
    union
      .withColumn("_rn", row_number().over(byPath.orderBy(col("_src"))))
      .withColumn("_in_latest",
        max(when(col("_src") === lit(latestSrc), 1).otherwise(0)).over(byPath) === 1)
      .join(tailDf, col("path") === col("_tpath"), "left")
      .withColumn("live", coalesce(col("_tail_live"), col("_in_latest")))
      .filter(col("_rn") === 1)
      .select(col("path").as("file_path"), col("content"),
        col("records").as("record_count"), col("sizeBytes").as("file_size_in_bytes"),
        col("partition"), col("live"))
      .orderBy(col("file_path"))
  }

  def historyTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val ids = listCommitIds(root)
    ids.map { id =>
      val c = readCommit(root, id)
      (c.snapshotId, c.parentId.getOrElse(-1L), c.operation, c.timestampMs)
    }.toDF("snapshot_id", "parent_id", "operation", "made_current_at_ms")
  }

  // ── maintenance (reference: SPARK_ICEBERG_GUIDE.md §8) ──────────────

  /** After a rewrite that replaced EVERY live data file, no surviving
    * file carries a historical physical name: the rewrite commit can
    * retire prev-names metadata and dropped-column tombstones, making
    * those names reusable — the promise requireFreshPhysicalName's
    * error message makes ("rewrite data files before reusing it").
    * Returns the (schemaJson, properties) to attach to the rewrite
    * commit; both empty when nothing needs retiring. Live eq-delete
    * files never key on historical names (requireEvolvable blocks
    * rename/drop under them), so stale delete entries are no obstacle.
    * Time travel to pre-rewrite snapshots still replays the old
    * schema, so historical reads keep coalescing; CDC ranges spanning
    * the rewrite re-collect the names (mergeRangePrevNames). */
  private def retiredNamesMeta(schema: StructType,
      props: Map[String, String]): (Option[String], Map[String, String]) = {
    // graft.was-float retires on the same condition: once no surviving
    // file carries float-rendered stats, the conservative two-way
    // bounds are pure pruning loss — reclaim exact pruning.
    // EXISTS_DEFAULT (initial-default) retires too: the rewrite read
    // materialized the default into every surviving file, so no file
    // can be missing the column any more — and retiring it re-opens
    // RENAME for the column. CURRENT_DEFAULT (write-default) stays.
    def stale(f: StructField): Boolean =
      prevNames(f).nonEmpty || f.metadata.contains(wasFloatKey) ||
        f.metadata.contains(existsDefaultKey)
    val hasPrev = schema.fields.exists(stale)
    val hasTombs = droppedCols(props).nonEmpty
    val cleanedJson =
      if (!hasPrev) None
      else Some(StructType(schema.fields.map { f =>
        if (!stale(f)) f
        else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(prevNamesKey).remove(wasFloatKey)
          .remove(existsDefaultKey).build())
      }).json)
    (cleanedJson, if (hasTombs) Map(droppedColsProp -> "") else Map.empty)
  }

  /** Bin-pack compaction — rewrite_data_files (reference:
    * SPARK_ICEBERG_GUIDE.md §8.3). Greedy first-fit over files smaller
    * than the target; each bin rewrites into one file (one per
    * partition tuple on a partitioned table). Bins are planned from
    * file metadata alone (Delta OPTIMIZE's bin-packing), and each bin
    * is one input partition of the native scan ([[readBins]]): one
    * narrow read → write stage with no listing job, no delete joins
    * and no shuffle, in one SQL execution. Rows keep their source
    * (file, position) order unless the table declares a sort order.
    * Snapshots the native reader declines take the V1 bin read and
    * its shuffle ([[readBinsForRewrite]]). */
  def rewriteDataFiles(spark: SparkSession, root: String,
      targetFileSizeBytes: Long = -1L,
      minInputFiles: Int = 2,
      where: Option[Column] = None): Long = {
    val snap = state(root)
    // default to the table's own write.target-file-size-bytes
    // (reference: SPARK_ICEBERG_GUIDE.md §8.3 options map)
    val target =
      if (targetFileSizeBytes > 0) targetFileSizeBytes
      else snap.properties.get("write.target-file-size-bytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val schema = snap.schema
    val p = snapshotPlanner(snap)
    // rewrite_data_files(where => ...): compaction scoped to the
    // files the predicate may touch — "compact this partition"
    // without rewriting the table (the Iceberg procedure's `where`).
    // FILE selection only, rows are never filtered; an untranslatable
    // predicate keeps the full scope (conservative superset).
    val (live, deletes) =
      p.files(where.toSeq.flatMap(c => extractPreds(conditionExpr(spark, schema, c), p.types)))
    val small = live.filter(_.sizeBytes < target)
    if (small.isEmpty || small.size < minInputFiles) return snap.snapshotId
    // clustered tables: order candidate files by the partition
    // column's min stat UNDER THE COLUMN'S OWN COMPARATOR (a
    // lexicographic sort would put numeric "10" before "2") so each
    // bin merges ADJACENT key ranges and the rewritten files keep
    // their pruning power; files without stats, and unclustered
    // tables, bin in path (append) order
    val firstPartCol = snap.properties.get("graft.partition-columns")
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty).headOption)
    val ordered = firstPartCol match {
      case Some(c) =>
        val dt = schema.fields.find(_.name == c).map(_.dataType)
        val (withStats, without) = small.partition(_.stats.get(c).exists(_.min.nonEmpty))
        val sorted = dt match {
          case Some(t) => withStats.sortWith { (a, b) =>
            val av = a.stats(c).min.get; val bv = b.stats(c).min.get
            val r = cmp(t, av, bv); if (r != 0) r < 0 else a.path < b.path
          }
          case None => withStats.sortBy(_.path)
        }
        sorted ++ without.sortBy(_.path)
      case None => small.sortBy(_.path)
    }
    var bins = Seq.empty[Seq[FileEntry]]
    var cur = Seq.empty[FileEntry]; var curSize = 0L
    ordered.foreach { f =>
      if (curSize + f.sizeBytes > target && cur.nonEmpty) {
        bins :+= cur; cur = Seq(f); curSize = f.sizeBytes
      } else { cur :+= f; curSize += f.sizeBytes }
    }
    if (cur.nonEmpty) bins :+= cur
    // a bin-pack that happens to rewrite EVERY live data file is a
    // full rewrite: retire historical names in the same commit
    val (retSchemaJ, retProps) =
      if (small.size == p.totalData)
        retiredNamesMeta(schema, snap.properties)
      else (None, Map.empty[String, String])
    val id = snap.snapshotId + 1   // planned against snap: conflicts fail loudly
    // live deletes apply in the read, so compacted files never
    // resurrect deleted rows
    val written =
      if (nativePlan(spark, p, Nil).isDefined) {
        // each task reads one bin in source order: only a partitioned
        // table's tuple sort needs the (file, position) tie-break
        val positions = tableSpec(snap.properties).nonEmpty
        writeDataFiles(spark, root, readBins(spark, root, snap, bins, positions),
          id, snap.properties,
          sourceOrder = if (positions) GraftBinScanProvider.positionCols else Nil)
      } else {
        // one shuffle puts each bin whole in one task
        val binnedRows = readBinsForRewrite(spark, root, schema, bins, deletes)
          .repartition(bins.size, col("_gf_bin"))
        writeDataFiles(spark, root, binnedRows, id, snap.properties,
          sourceOrder = Seq("_gf_ord", "_gf_pos"), binCol = Some("_gf_bin"))
      }
    val adds = stampRewriteAdds(spark, written)
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "rewrite_data_files", adds, small.map(_.path), retProps, retSchemaJ))
  }

  /** Sort-based rewrite — rewrite_data_files(strategy => 'sort')
    * (the Iceberg sibling): rewrite ALL live data rows range-
    * partitioned and sorted on `sortCols`, sized to the target file
    * size. Each output file then covers a tight, disjoint range of
    * the sort key, so stats pruning on those columns skips all but
    * the matching files — the remedy when appends interleaved a key
    * across every file. Applies live delete files while rewriting
    * and retires them in the same commit. */
  def rewriteDataFilesSorted(spark: SparkSession, root: String,
      sortCols: Seq[String], targetFileSizeBytes: Long = -1L): Long = {
    val snap = state(root)
    val schema = snap.schema
    require(sortCols.nonEmpty && sortCols.forall(schema.fieldNames.contains),
      s"bad sort columns: $sortCols")
    val dataFiles = snap.files.filter(_.isData)
    if (dataFiles.isEmpty) return snap.snapshotId
    val deletes = snap.files.filter(_.isDelete)
    val target =
      if (targetFileSizeBytes > 0) targetFileSizeBytes
      else snap.properties.get("write.target-file-size-bytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val nOut = math.max(1,
      math.ceil(dataFiles.map(_.sizeBytes).sum.toDouble / target).toInt)
    val id = snap.snapshotId + 1
    val sorted = readFilesForRewrite(spark, root, schema, dataFiles, deletes)
      .repartitionByRange(nOut, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    val adds = stampRewriteAdds(spark,
      writeDataFiles(spark, root, sorted, id, snap.properties))
    // rewrites ALL live data rows: historical names retire with it
    val (retSchemaJ, retProps) = retiredNamesMeta(schema, snap.properties)
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "rewrite_data_files_sorted", adds,
      dataFiles.map(_.path) ++ deletes.map(_.path), retProps, retSchemaJ))
  }

  /** Z-order rewrite — rewrite_data_files(strategy => 'zorder'), the
    * Delta OPTIMIZE ZORDER BY / Iceberg sort-order z-order analog: a
    * linear sort on (a, b) gives every file the FULL range of b, so
    * stats pruning on b alone skips nothing; interleaving the bits of
    * per-column quantile-bucket ids orders rows along a Z-curve, and
    * each output file then covers a tight range of EVERY z column —
    * multi-dimensional stats pruning from one clustering.
    *
    * Scale shape: per-column bucket boundaries come from ONE
    * approxQuantile pass (a driver array of `buckets` doubles per
    * column — skew-robust where uniform min/max bucketing is not);
    * bucket assignment + bit interleave are pure codegen'd column
    * arithmetic; the rewrite itself is the same range-partition write
    * as the sort strategy. Numeric z columns only (string quantiles
    * have no numeric embedding; truncate-prefix buckets could slot in
    * here if needed). */
  def rewriteDataFilesZOrder(spark: SparkSession, root: String,
      zCols: Seq[String], targetFileSizeBytes: Long = -1L,
      buckets: Int = 64): Long = {
    val snap = state(root)
    val schema = snap.schema
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    require(zCols.size >= 2, s"z-order needs >= 2 columns, got $zCols")
    require(zCols.forall(schema.fieldNames.contains), s"bad z columns: $zCols")
    val numeric: Set[DataType] =
      Set(IntegerType, LongType, ShortType, ByteType, FloatType, DoubleType)
    require(zCols.forall(c => numeric.contains(types(c)) ||
        types(c).isInstanceOf[DecimalType]),
      s"z-order columns must be numeric; got ${zCols.map(c => s"$c:${types(c)}")}")
    val dataFiles = snap.files.filter(_.isData)
    if (dataFiles.isEmpty) return snap.snapshotId
    val deletes = snap.files.filter(_.isDelete)
    val target =
      if (targetFileSizeBytes > 0) targetFileSizeBytes
      else snap.properties.get("write.target-file-size-bytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val nOut = math.max(1,
      math.ceil(dataFiles.map(_.sizeBytes).sum.toDouble / target).toInt)
    val id = snap.snapshotId + 1
    val live = readFilesForRewrite(spark, root, schema, dataFiles, deletes)
    // interleaved bit indexes must fit a signed Long: shrink the bucket
    // count so bits * k <= 63 (1L << 65 would silently wrap, mapping
    // distinct (bucket, bit) pairs to colliding weights and collapsing
    // the curve for wide column lists)
    require(zCols.size <= 63, s"too many z-order columns (${zCols.size})")
    val effBuckets = math.max(2, math.min(buckets, 1 << math.min(30, 63 / zCols.size)))
    val bits = math.max(1, 32 - Integer.numberOfLeadingZeros(effBuckets - 1))
    val probes = (1 until effBuckets).map(_.toDouble / effBuckets).toArray
    // one quantile pass over all z columns; duplicate boundaries (heavy
    // skew) collapse so the bucket expression stays monotonic
    val asD = zCols.map(c => col(c).cast("double").as(s"_gz_$c"))
    val bounds = live.select(asD: _*)
      .stat.approxQuantile(zCols.map(c => s"_gz_$c").toArray, probes, 0.001)
      .map(_.distinct.sorted)
    // bucket id = count of boundaries <= value (unrolled, codegen'd);
    // NULL sorts to bucket 0
    def bucketId(c: String, bs: Array[Double]): Column =
      bs.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(c).cast("double") >= lit(b), 1).otherwise(0)
      }
    // interleave: bit `b` of column `i` lands at z bit (b * k + i)
    val k = zCols.size
    val withBuckets = zCols.zipWithIndex.foldLeft(live) { case (d, (c, i)) =>
      d.withColumn(s"_gzb_$i", bucketId(c, bounds(i)))
    }
    val zval = (0 until bits).flatMap { b =>
      (0 until k).map { i =>
        shiftright(col(s"_gzb_$i"), b).bitwiseAND(lit(1))
          .cast("long") * lit(1L << (b * k + i))
      }
    }.reduce(_ + _)
    val ordered = withBuckets.withColumn("_gz", zval)
      .drop((0 until k).map(i => s"_gzb_$i"): _*)
      .repartitionByRange(nOut, col("_gz"))
      .sortWithinPartitions(col("_gz"))
      .drop("_gz")
    val adds = stampRewriteAdds(spark,
      writeDataFiles(spark, root, ordered, id, snap.properties))
    // rewrites ALL live data rows: historical names retire with it
    val (retSchemaJ, retProps) = retiredNamesMeta(schema, snap.properties)
    commitOrCleanup(root, id, Commit(id, Some(id - 1), System.currentTimeMillis(),
      "rewrite_data_files_zorder", adds,
      dataFiles.map(_.path) ++ deletes.map(_.path), retProps, retSchemaJ))
  }

  /** Metadata compaction — rewrite_manifests (reference:
    * SPARK_ICEBERG_GUIDE.md §8.4): collapse the commit history into a
    * checkpoint so readers replay O(1) files instead of O(commits).
    * Above the planning threshold the new checkpoint is built as a
    * distributed delta off the previous one (writeCheckpointDelta) —
    * no full state replay, no O(table) JSON on the driver. */
  def rewriteManifests(root: String): Long = {
    // MAIN head, not the raw log head: a checkpoint at a pending
    // staged (WAP) id would seed every later replay with audit state
    val target = state(root).snapshotId
    if (!writeCheckpointDelta(root, target))
      writeCheckpointArtifacts(root, state(root))
    target
  }

  /** ckptfiles-N.parquet rows as explicit Row + schema: a case-class
    * Dataset here trips Janino on the nested-in-object encoder (Spark
    * logs a CompileException and falls back to interpreted encoding on
    * EVERY checkpoint — at millions of files that fallback is the slow
    * path exactly where speed matters). */
  private val ckptFilesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("sizeBytes", LongType, nullable = false),
    StructField("records", LongType, nullable = false),
    StructField("stats", MapType(StringType, StructType(Seq(
      StructField("min", StringType),
      StructField("max", StringType),
      StructField("nulls", LongType, nullable = false))))),
    StructField("partition", MapType(StringType, StringType)),
    StructField("content", IntegerType, nullable = false),
    StructField("eqcols", ArrayType(StringType)),
    // nullable: null = spec 0, same as the JSON manifests' absent
    // stamp (and what every pre-evolution checkpoint reads as)
    StructField("specId", IntegerType),
    // nullable: null = no row lineage (pre-feature file); -1 = ids
    // materialized in the file's _gf_row_id column
    StructField("firstRowId", LongType)))

  private def entryToCkptRow(f: FileEntry): Row =
    Row(f.path, f.sizeBytes, f.records,
      f.stats.map { case (n, v) => n -> Row(v.min.orNull, v.max.orNull, v.nulls) },
      f.partitionValues, f.content.getOrElse(0), f.eqCols.getOrElse(Seq.empty),
      f.specId.map(Int.box).orNull, f.firstRowId.map(Long.box).orNull)

  /** Write a DataFrame already in ckptFilesSchema shape to
    * `ckptfiles-$id.parquet` via stage + atomic move. Losing the move
    * race to an identical writer is fine (derived state). */
  private def stageCkptParquet(root: String, id: Long, df: DataFrame): Unit = {
    val target = logDir(root).resolve(s"ckptfiles-$id.parquet")
    if (Files.exists(target)) return
    val tmp = Paths.get(root, s".ckpt-stage-${UUID.randomUUID()}")
    df.write.options(GraftLocalFs.writerOptions).parquet(tmp.toString)
    var won = false
    try { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); won = true }
    catch { case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException |
                 _: java.nio.file.AccessDeniedException =>
      // lost the race to an identical writer: discard the stage
      deleteTree(tmp)
    }
    // outside the race try: a mirror failure must stay a loud MIRROR
    // failure, never read as a lost checkpoint race
    if (won) LakeStore.at(target).checkpointPlaced(target)
  }

  /** One checkpoint = artifacts at the same snapshot id:
    *  - checkpoint-N.json       full file list — written only by the
    *                            sub-threshold driver build; the
    *                            distributed delta build skips it and
    *                            the parquet is authoritative
    *  - ckptmeta-N.json         properties/schema + file COUNT, no adds
    *                            (O(1) parse, lets ckptPlanner decide
    *                            driver-vs-distributed without touching
    *                            the file list)
    *  - ckptfiles-N.parquet     the file list as parquet, readable by
    *                            executors for distributed pruning
    * All are derived state: losing a put-if-absent race to an
    * identical writer is fine. */
  private def writeCheckpointArtifacts(root: String, snap: Snapshot): Unit = {
    val c = Commit(snap.snapshotId, None, snap.timestampMs, "checkpoint",
      snap.files, Seq.empty, snap.properties, Some(snap.schema.json))
    writeCheckpoint(logDir(root).resolve(s"checkpoint-${snap.snapshotId}.json"), toJson(c))
    writeCheckpoint(logDir(root).resolve(s"ckptmeta-${snap.snapshotId}.json"),
      toJson(c.copy(adds = Seq.empty, properties = snap.properties +
        ("graft.ckpt.file-count" -> snap.files.size.toString))))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach { spark =>
      // keep the list sharded ~100k entries per part file — at
      // millions of files no single task writes the whole manifest
      val rows = snap.files.map(entryToCkptRow)
      stageCkptParquet(root, snap.snapshotId, spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, math.max(1, rows.size / 100000)),
        ckptFilesSchema))
    }
  }

  /** Parquet-authoritative checkpoint at `target`, built as a
    * DISTRIBUTED DELTA off the previous parquet checkpoint: survivors
    * (an anti-join on tail-touched paths — ckptPlanner's last-action-
    * wins discipline) union the tail's adds, written as a Spark job.
    * The driver holds O(tail actions), never the file list, and NO
    * checkpoint JSON is serialized — at a million files that JSON is
    * itself a ~GB driver allocation. replayState and the sub-threshold
    * views seed such checkpoints from the parquet (checkpointCommit).
    * Returns false — caller falls back to the legacy driver build —
    * when there is no previous parquet checkpoint, the table sits
    * below the planning threshold, or no SparkSession is active. */
  private def writeCheckpointDelta(root: String, target: Long): Boolean = {
    val sparkOpt = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    if (sparkOpt.isEmpty) return false
    val spark = sparkOpt.get
    // complete parquet+meta pair at target → done; a bare legacy JSON
    // or a crashed partial write falls through and gets repaired
    if (listCkptFilesIds(root).contains(target) &&
      Files.exists(logDir(root).resolve(s"ckptmeta-$target.json"))) return true
    val ids = listCommitIds(root)
    require(ids.contains(target),
      s"snapshot $target not in log (expired or never existed); have ${ids.min}..${ids.max}")
    // target itself has no parquet+meta pair (checked above), so the
    // shared replay resolves to a strictly earlier checkpoint
    val ctOpt = ckptTail(root, target)
    if (ctOpt.isEmpty) return false
    val ct = ctOpt.get
    val (props, schemaJ, ts) = (ct.props, Some(ct.schema.json), ct.timestampMs)
    // the new checkpoint's meta is stamped CURRENT, so ckptFilesDf
    // (inside ckptSurvivorsDf) normalizes a pre-stamp previous list
    // before its stats are carried forward
    val survivors = ckptSurvivorsDf(spark, root, ct)
    val adds = ct.tailAdds.map(entryToCkptRow)
    val addsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(adds, math.max(1, adds.size / 100000)),
      ckptFilesSchema)
    val cols = ckptFilesSchema.fieldNames.map(col(_))
    val newDf = survivors.select(cols: _*).unionByName(addsDf)
    // stage the parquet, COUNT it off the staged footers, then write
    // meta BEFORE the atomic move — every reader that finds the
    // parquet must find the meta (ckptPlanner reads it untried), so a
    // crash mid-write can only leave a harmless meta-without-parquet,
    // which the next build repairs (the short-circuit needs both)
    val targetPq = logDir(root).resolve(s"ckptfiles-$target.parquet")
    if (Files.exists(targetPq)) {
      writeCheckpoint(logDir(root).resolve(s"ckptmeta-$target.json"),
        toJson(Commit(target, None, ts, "checkpoint", Seq.empty, Seq.empty,
          props + ("graft.ckpt.file-count" -> footerRowCount(spark, targetPq).toString),
          schemaJ)))
      return true
    }
    val tmp = Paths.get(root, s".ckpt-stage-${UUID.randomUUID()}")
    newDf.write.options(GraftLocalFs.writerOptions).parquet(tmp.toString)
    val newCount = footerRowCount(spark, tmp)
    writeCheckpoint(logDir(root).resolve(s"ckptmeta-$target.json"),
      toJson(Commit(target, None, ts, "checkpoint", Seq.empty, Seq.empty,
        props + ("graft.ckpt.file-count" -> newCount.toString), schemaJ)))
    var won = false
    try { Files.move(tmp, targetPq, StandardCopyOption.ATOMIC_MOVE); won = true }
    catch { case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException |
                 _: java.nio.file.AccessDeniedException =>
      // lost the race to an identical writer: discard the stage
      deleteTree(tmp)
    }
    // outside the race try: a mirror failure must stay a loud MIRROR
    // failure, never read as a lost checkpoint race
    if (won) LakeStore.at(targetPq).checkpointPlaced(targetPq)
    true
  }

  /** Rows of a parquet directory, summed off its part footers. */
  private def footerRowCount(spark: SparkSession, dir: Path): Long =
    footerStats(spark, listDir(dir).map(_.toString).filter(_.endsWith(".parquet")))
      .map(_._2).sum

  /** Checkpoints are derived state: a pre-existing one at the same id
    * has identical content, so losing the put-if-absent race is fine. */
  private def writeCheckpoint(target: Path, content: String): Unit =
    try writeAtomic(target, content)
    catch { case _: IllegalStateException => () }

  /** expire_snapshots (reference: SPARK_ICEBERG_GUIDE.md §8.5):
    * checkpoint at the cutoff, then drop older commits/checkpoints.
    * Time travel before the cutoff correctly fails afterwards. */
  def expireSnapshots(root: String, retainLast: Int): Unit =
    expireSnapshots(root, retainLast, System.currentTimeMillis())

  /** Drop refs older than their retention (per-ref RETAIN override,
    * else `history.expire.max-ref-age-ms`) — Iceberg's max-ref-age
    * rule, the half of expiry that UNpins: an aged-out tag or branch
    * stops protecting its snapshots in the same pass. `main` (the
    * live head) is not a property ref and never expires. Returns the
    * dropped ref names. */
  private def expireAgedRefs(root: String, nowMs: Long): Seq[String] = {
    val props = state(root).properties
    val tableMax = refLongProp(props, tableMaxRefAgeProp)
    def aged(kind: String, refs: Map[String, Long]): Seq[(String, String)] =
      refs.toSeq.flatMap { case (n, sid) =>
        val (created, over) = refRetention(root, props, kind, n, sid)
        over.orElse(tableMax).collect {
          case maxAge if nowMs - created > maxAge => kind -> n
        }
      }
    val victims = aged("tag", tags(root)) ++ aged("branch", branches(root))
    if (victims.nonEmpty)
      setProperties(root, victims.flatMap { case (kind, n) =>
        val refKey = if (kind == "tag") s"graft.ref.tag.$n" else branchRefKey(n)
        Seq(refKey -> "", refCreatedKey(kind, n) -> "", refMaxAgeKey(kind, n) -> "")
      }.toMap)
    victims.map(_._2)
  }

  def expireSnapshots(root: String, retainLast: Int, nowMs: Long): Unit = {
    expireAgedRefs(root, nowMs)
    // `history.expire.min-snapshots-to-keep` is a floor the caller's
    // retain_last cannot cut under (Iceberg's branch-retention knob,
    // table-level here — graft's main IS the branch being expired)
    val retain = math.max(retainLast,
      refLongProp(state(root).properties, minSnapshotsProp)
        .map(_.toInt).getOrElse(0))
    val ids = listCommitIds(root)
    if (ids.size <= retain) return
    // tagged snapshots are pinned (Iceberg's ref-retention rule),
    // and so is every live branch's base — a branch replay seeds from
    // checkpoints at or before its base, so the base must survive
    // (branch COMMITS sit above their base and survive a fortiori)
    val pinned = tags(root).values ++ branches(root).values
    var cutoff = math.min(ids.sorted.takeRight(retain).head,
      if (pinned.isEmpty) Long.MaxValue else pinned.min)
    // the cutoff becomes a CHECKPOINT of the main lineage — never
    // seed it from a staged (WAP) or branch commit's state
    while (cutoff > ids.min && isOffMainId(root, cutoff))
      cutoff = ids.filter(_ < cutoff).max
    if (cutoff <= ids.min) return
    if (!writeCheckpointDelta(root, cutoff))
      writeCheckpointArtifacts(root, state(root, Some(cutoff)))
    ids.filter(_ < cutoff).foreach(id => Files.deleteIfExists(commitPath(root, id)))
    // retire decision MIRRORS whose transactions have no commits left
    // in the retained log — their visibility already folded into the
    // cutoff checkpoint, so the verdict carries no information here
    // (the txn dir's own decision file, shared by other tables, is
    // untouched)
    val liveTxn = listCommitIds(root)
      .map(readCommit(root, _))
      .flatMap(_.properties.get(txnDecisionProp))
      .map(txnIdOfDecision).toSet
    listDir(logDir(root)).map(_.getFileName.toString)
      .filter(n => n.startsWith("txn-") && n.endsWith(".decision"))
      .map(_.stripPrefix("txn-").stripSuffix(".decision"))
      .filterNot(liveTxn.contains)
      .foreach(id => Files.deleteIfExists(logDir(root).resolve(s"txn-$id.decision")))
    // sweep by ANY artifact present — a crashed delta build can leave
    // a meta without its parquet, which must still expire
    (listCheckpointIds(root) ++ listCkptFilesIds(root) ++
      listDir(logDir(root)).map(_.getFileName.toString)
        .filter(_.matches("ckptmeta-\\d+\\.json"))
        .map(_.stripPrefix("ckptmeta-").stripSuffix(".json").toLong))
      .distinct.filter(_ < cutoff).foreach { k =>
      Files.deleteIfExists(logDir(root).resolve(s"checkpoint-$k.json"))
      Files.deleteIfExists(logDir(root).resolve(s"ckptmeta-$k.json"))
      val pq = logDir(root).resolve(s"ckptfiles-$k.parquet")
      if (Files.exists(pq))
        deleteTree(pq)
    }
  }

  /** expire_snapshots(older_than => TIMESTAMP) (reference:
    * SPARK_ICEBERG_GUIDE.md §8.5): drop snapshots committed before the
    * UTC horizon; the current snapshot always survives. */
  def expireSnapshotsOlderThan(root: String, olderThanMs: Long): Unit = {
    val ids = listCommitIds(root)
    val survivors = ids.filter { id =>
      readCommit(root, id).timestampMs >= olderThanMs
    }
    val retain = if (survivors.isEmpty) 1 else (ids.max - survivors.min + 1).toInt
    expireSnapshots(root, retain)
  }

  /** Snapshot ids committed at or before the UTC millisecond horizon.
    * Staged (WAP) commits are excluded: time travel by timestamp
    * resolves the MAIN lineage (the audit read is by explicit id). */
  def snapshotIdsAtOrBefore(root: String, tsMs: Long): Seq[Long] =
    listCommitIds(root).filter { id =>
      val c = readCommit(root, id)
      c.timestampMs <= tsMs && !isOffMain(root, c)
    }

  /** Time travel by UTC timestamp: read the last snapshot committed at
    * or before `tsMs` (the FOR SYSTEM_TIME AS OF read). */
  def readAsOfTime(spark: SparkSession, root: String, tsMs: Long): DataFrame = {
    val at = snapshotIdsAtOrBefore(root, tsMs)
    require(at.nonEmpty, s"no snapshot at or before $tsMs")
    read(spark, root, Some(at.max))
  }

  /** DESCRIBE TABLE EXTENDED (reference: SPARK_ICEBERG_GUIDE.md §8.7):
    * schema fields, properties, and size diagnostics as one key/value
    * table. Above the planning threshold the size rollups run as a
    * Spark aggregation over checkpoint survivors, combined with the
    * driver-held tail adds — the same split every other O(table)
    * plane uses; the file list never materializes driver-side. */
  def describeTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val ids = listCommitIds(root)
    require(ids.nonEmpty, s"not a GraftTable (empty log): $root")
    val target = mainHeadId(root, ids)
    val (schema, props, stats) = ckptTail(root, target) match {
      case None =>
        val snap = state(root)
        (snap.schema, snap.properties, Seq(
          ("files", snap.files.count(_.isData).toString),
          // content=1 diagnostics (reference: SPARK_ICEBERG_GUIDE.md
          // §8.10 counts data vs delete files)
          ("delete_files", snap.files.count(_.isDelete).toString),
          ("delete_records", snap.files.filter(_.isDelete).map(_.records).sum.toString),
          ("total_bytes", snap.files.filter(_.isData).map(_.sizeBytes).sum.toString),
          ("total_records", snap.files.filter(_.isData).map(_.records).sum.toString)))
      case Some(ct) =>
        // ONE job: per-content rollups over checkpoint survivors,
        // combined with the driver-held tail adds
        val agg = ckptSurvivorsDf(spark, root, ct).groupBy(col("content") === 0)
          .agg(count(lit(1)).as("n"), sum(col("records")).as("recs"),
            sum(col("sizeBytes")).as("bytes"))
          .collect().map(r => r.getBoolean(0) ->
            (r.getLong(1), r.getAs[Long]("recs"), r.getAs[Long]("bytes"))).toMap
        val (ckData, ckDel) = (agg.getOrElse(true, (0L, 0L, 0L)), agg.getOrElse(false, (0L, 0L, 0L)))
        val (tData, tDel) = (ct.tailAdds.filter(_.isData), ct.tailAdds.filter(_.isDelete))
        (ct.schema, ct.props, Seq(
          ("files", (ckData._1 + tData.size).toString),
          ("delete_files", (ckDel._1 + tDel.size).toString),
          ("delete_records", (ckDel._2 + tDel.map(_.records).sum).toString),
          ("total_bytes", (ckData._3 + tData.map(_.sizeBytes).sum).toString),
          ("total_records", (ckData._2 + tData.map(_.records).sum).toString)))
    }
    val rows =
      schema.fields.map(f => ("col: " + f.name, f.dataType.simpleString)).toSeq ++
      props.toSeq.sortBy(_._1).map { case (k, v) => ("prop: " + k, v) } ++
      (("snapshot_id", target.toString) +: stats)
    rows.toDF("key", "value")
  }

  /** The orphan JUDGMENT, separated from candidate discovery: which of
    * `rels` ("data/x.parquet" / "deletes/x.parquet" table-relative
    * paths) are referenced by NO commit in the log — retained, staged
    * (WAP — staged commits are ordinary log slots, so their adds count
    * as references), or checkpoint-seeded. [[removeOrphanFiles]] feeds
    * it the LOCAL directory listing; [[GraftS3.removeOrphanRemote]]
    * feeds it a bucket listing — a crashed DIRECT-WRITE job's remote
    * debris has no local twin for the local sweep to find. Above the
    * shared planning threshold membership is a distributed anti-join
    * against the ckptfiles parquet (the driver never materializes an
    * O(table) add list); below it, a driver-side set. Returns sorted. */
  private[lake] def unreferencedRels(root: String, rels: Seq[String]): Seq[String] = {
    val ckIds = seedCheckpointIds(root)
    val ckParquets = ckIds.map(k => logDir(root).resolve(s"ckptfiles-$k.parquet"))
    val overThreshold = ckIds.nonEmpty && {
      val (count, threshold) = ckptScale(root, ckIds.max)
      count >= threshold
    }
    val sparkOpt = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    if (overThreshold && sparkOpt.isDefined && ckParquets.forall(Files.exists(_))) {
      val spark = sparkOpt.get
      import spark.implicits._
      val commitAdds = listCommitIds(root)
        .flatMap(id => readCommit(root, id)
          .adds.map(_.path))
      val referenced = ckParquets.map(p =>
          spark.read.parquet(p.toString).select(col("path")))
        .foldLeft(commitAdds.toDF("path"))(_ union _)
      rels.toDF("path")
        .join(referenced, Seq("path"), "left_anti")
        .as[String].collect().toSeq.sorted
    } else {
      val referenced: Set[String] =
        (listCommitIds(root).map(id =>
            readCommit(root, id)) ++
          ckIds.map(k => checkpointCommit(root, k)))
          .flatMap(_.adds.map(_.path)).toSet
      rels.filterNot(referenced.contains).sorted
    }
  }

  /** remove_orphan_files (reference: SPARK_ICEBERG_GUIDE.md §8.6):
    * data files referenced by NO retained snapshot and older than the
    * horizon. Returns deleted (or would-delete, if dryRun) paths.
    *
    * Referenced = every file ADDED by any retained commit or
    * checkpoint (one forward pass — a full per-snapshot replay would
    * be O(commits²) for the same answer, since removed files stay
    * referenced by the older snapshots that still list them). Above
    * the shared planning threshold the checkpoints' O(table) add
    * lists stay in their `ckptfiles-K.parquet` form and membership is
    * a distributed anti-join; the driver then holds only the
    * directory listing (which any FS engine must enumerate to sweep)
    * and the retained commits' adds — planScan's split, applied to
    * maintenance. */
  def removeOrphanFiles(root: String, olderThanMs: Long,
      dryRun: Boolean = false): Seq[String] = {
    val candidates = (listDir(dataDir(root)).map(("data", _)) ++
        listDir(deleteDir(root)).map(("deletes", _)))
      .filter { case (_, p) => p.getFileName.toString.endsWith(".parquet") }
      .filter { case (_, p) => Files.getLastModifiedTime(p).toMillis < olderThanMs }
    val byRel = candidates.map { case (d, p) => s"$d/${p.getFileName}" -> (d, p) }.toMap
    val orphans: Seq[(String, Path)] =
      unreferencedRels(root, byRel.keys.toSeq).map(byRel)
    if (!dryRun) orphans.foreach { case (_, p) =>
      Files.deleteIfExists(p)
      LakeStore.at(p).artifactDiscarded(p)
    }
    // crashed writers can also leave whole .stage-*/.ckpt-stage-* dirs
    // at the root — sweep them past the same horizon
    val staleStages = listDir(Paths.get(root))
      .filter(p => Files.isDirectory(p) &&
        (p.getFileName.toString.startsWith(".stage-") ||
          p.getFileName.toString.startsWith(".ckpt-stage-")))
      .filter(p => Files.getLastModifiedTime(p).toMillis < olderThanMs)
    if (!dryRun) staleStages.foreach { p =>
      deleteTree(p)
    }
    orphans.map { case (d, p) => s"$d/${p.getFileName}" } ++
      staleStages.map(p => p.getFileName.toString)
  }

  /** rollback_to_snapshot (reference: SPARK_ICEBERG_GUIDE.md §8.8):
    * a NEW commit restoring an old file set — history is append-only. */
  def rollbackToSnapshot(root: String, snapshotId: Long): Long = {
    require(!isStagedId(root, snapshotId),
      s"cannot roll back to staged (WAP) snapshot $snapshotId — " +
        "publish it with cherrypick_snapshot instead")
    require(branchInfoOfId(root, snapshotId).isEmpty,
      s"cannot roll back main to branch snapshot $snapshotId — " +
        "publish the branch with fast_forward instead")
    val target = state(root, Some(snapshotId))
    val current = state(root)
    // a rollback restores FILE SETS, not schema/properties — crossing
    // a REPLACE would resurrect old-generation files under the new
    // generation's schema, which need not correspond at all: refuse
    // (recover a pre-replace generation by reading it with time travel
    // and REPLACE-ing again)
    val crossed = listCommitIds(root)
      .filter(id => id > snapshotId && id <= current.snapshotId)
      .filter(id => readCommit(root, id).operation == "replace")
    require(crossed.isEmpty,
      s"rollback across REPLACE TABLE is unsupported: snapshot(s) " +
        s"${crossed.mkString(", ")} replaced the table's schema lineage; " +
        "time-travel-read the old generation and REPLACE again instead")
    val targetPaths = target.files.map(_.path).toSet
    val currentPaths = current.files.map(_.path).toSet
    commit(root, current.snapshotId, "rollback",
      target.files.filter(f => !currentPaths.contains(f.path)),
      (currentPaths -- targetPaths).toSeq.sorted)
  }

  // ── native DSv2 batch-scan planning ─────────────────────────────────

  /** Hive's null-partition sentinel, exposed for the native scan's
    * partition-key decoding (SPJ keys render null tuples back to a
    * null key value). */
  private[lake] val nullPartitionSentinel: String = nullPart

  /** Everything GraftBatchScan needs from one planning pass: the
    * snapshot's logical schema, the data files surviving partition +
    * stats pruning on the pushed predicates, and the spec history for
    * per-file partition dispatch. `distributedPlanned` records which
    * plane produced the entries (checkpoint-plane survivors carry NO
    * stats maps — runtime filters there prune by partition tuple only,
    * which mayMatch's empty-stats conservatism makes automatic).
    * Non-empty `bins` puts the scan in bin mode (compaction's input):
    * `entries` are the bins' files, and each bin is one input
    * partition ([[binScanPlan]]). */
  private[graft] case class NativePlan(schema: StructType,
      entries: Seq[FileEntry], specs: IndexedSeq[Seq[PTransform]],
      currentSpecId: Int, distributedPlanned: Boolean,
      deletes: Seq[FileEntry] = Seq.empty,
      renames: Seq[(String, Seq[String])] = Seq.empty,
      bins: Seq[Seq[FileEntry]] = Seq.empty)

  /** (logical name, historical names newest-first) for every renamed
    * column — the native reader resolves which name each FILE
    * physically carries (footer field set, cached per executor) and
    * serves that vector under the logical name. */
  private def renameAlts(schema: StructType): Seq[(String, Seq[String])] =
    schema.fields.toSeq.flatMap { f =>
      val hs = prevNames(f)
      if (hs.isEmpty) None else Some(f.name -> hs.reverse)
    }

  /** A historical name that is ALSO a live field name would make the
    * reader's extended schema ambiguous — that snapshot stays on V1
    * (the coalesce projection disambiguates positionally there). */
  private def renamesAmbiguous(schema: StructType): Boolean = {
    val live = schema.fieldNames.toSet
    schema.fields.exists(f => prevNames(f).exists(live.contains))
  }

  /** Equality-delete key types the native reader can hash-set
    * (structural boxed equality matches Spark's null-safe equality
    * after −0.0 normalization; Decimal/binary/nested stay on V1). */
  private[lake] def eqKeyHashable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | StringType |
         BooleanType | DateType | TimestampType | TimestampNTZType |
         FloatType | DoubleType => true
    case _ => false
  }

  /** MoR snapshots stay native when every live delete file is servable
    * by the deletion-vector reader: position deletes always are;
    * equality deletes need hashable key columns still present under
    * their live names. `spark.graft.native-scan.mor.enabled=false`
    * routes MoR snapshots back to the V1 anti-join plane. */
  private def morNativeEligible(spark: SparkSession, schema: StructType,
      deletes: Seq[FileEntry]): Boolean = {
    // equality keys load into PER-EXECUTOR hash sets — fine for the
    // keyed-delete workloads they exist for, but a pathological
    // many-gigabyte key set must take the distributed V1 anti-join
    // instead of OOMing every executor. Bound by the on-disk bytes of
    // live eq-delete files (the in-memory set is the same order).
    val eqBytesCap = spark.conf
      .get("spark.graft.native-scan.eq.max-bytes", (64L << 20).toString).toLong
    deletes.isEmpty ||
      (spark.conf.get("spark.graft.native-scan.mor.enabled", "true").toBoolean &&
        deletes.filter(_.content.contains(2)).map(_.sizeBytes).sum <= eqBytesCap &&
        deletes.forall { d =>
          d.content.contains(1) || d.content.contains(3) ||
            (d.content.contains(2) &&
              d.eqCols.exists(cs => cs.nonEmpty && cs.forall(c =>
                // renamed eq-key columns stay native: the reader
                // resolves each data file's physical key name per file
                // (GraftEqGroup.altOrds), the same footer-fieldset
                // remap renamed output columns use
                schema.fields.find(_.name == c).exists(f =>
                  eqKeyHashable(f.dataType)))))
        })
  }

  /** Plan a scan for the native (DSv2 Batch / columnar) read path:
    * the [[ckptPlanner]]'s files for `preds`, or None when the snapshot
    * needs read-time semantics only the DataFrame plane provides.
    * Below the planning threshold this is the driver prune of the
    * cached snapshot; above it the checkpoint planner's one job. */
  private[graft] def planNativeScan(spark: SparkSession, root: String,
      preds: Seq[Pred], asOf: Option[Long]): Option[NativePlan] =
    nativePlan(spark, ckptPlanner(spark, root, asOf), preds)

  /** `p`'s native plan, or None for the shapes the native reader
    * cannot serve: an ambiguous rename, or a delete set
    * [[morNativeEligible]] declines. Renamed columns stay native: the
    * plan carries the rename alternatives and the wrapping reader
    * resolves which name each file physically carries (footer field
    * set, cached per executor). Live delete files ride along in
    * `deletes` and apply as per-file row-index / key-set filters inside
    * the columnar reader (GraftMorReaderFactory). Widened types and
    * ADD-COLUMN null-fill stay native: both planes hand the SAME
    * explicit read schema to the same vectorized parquet reader. */
  private def nativePlan(spark: SparkSession, p: FilePlanner,
      preds: Seq[Pred]): Option[NativePlan] =
    if (renamesAmbiguous(p.schema)) None
    else {
      val (data, deletes) = p.files(preds)
      Option.when(morNativeEligible(spark, p.schema, deletes))(NativePlan(p.schema, data,
        p.specs, p.specs.size - 1, p.distributed, deletes, renameAlts(p.schema)))
    }

  /** The bin scan's plan ([[GraftBinScanProvider]]): snapshot
    * `snapshotId`'s native plan narrowed to the bins' data files, each
    * bin's files in the given (bin-pack) order. The snapshot comes from
    * the replay cache, so the compaction that planned the bins pays no
    * second replay and no checkpoint job. */
  private[lake] def binScanPlan(spark: SparkSession, root: String, snapshotId: Long,
      bins: Seq[Seq[String]]): NativePlan = {
    val plan = nativePlan(spark, snapshotPlanner(state(root, Some(snapshotId))), Nil)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapshotId of $root needs the V1 read plane; its bins cannot scan natively"))
    val byPath = plan.entries.map(f => f.path -> f).toMap
    val binEntries = bins.map(_.map(p => byPath.getOrElse(p,
      throw new IllegalArgumentException(s"$p is not a live data file of snapshot $snapshotId"))))
    plan.copy(entries = binEntries.flatten, bins = binEntries)
  }

  /** Re-prune `entries` under a runtime (DPP) equality filter: a file
    * survives when ANY of the join-key values could live in it, per
    * the SAME per-value partition + stats checks the planners use. A
    * null value matches no row of an equi-join and is dropped; a value
    * the stats text cannot render disables the prune entirely (keep
    * everything — runtime filters are an optimization, never a
    * correctness gate; Spark re-applies the join regardless). */
  private[lake] def runtimePruneEntries(schema: StructType,
      specs: IndexedSeq[Seq[PTransform]], entries: Seq[FileEntry],
      attr: String, values: Seq[Any]): Seq[FileEntry] = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    if (!types.contains(attr)) return entries
    val aliases = statAliases(schema)
    val rendered = values.map(v => v -> GraftRelation.renderValue(v))
    if (rendered.exists { case (v, r) => v != null && r.isEmpty }) return entries
    val vs = rendered.flatMap(_._2)
    if (vs.isEmpty) return Seq.empty   // only-null join keys: nothing matches
    entries.filter { f =>
      vs.exists { v =>
        val p = Seq(Eq(attr, v))
        mayMatchPartition(types, specForFile(specs, f), p)(f) &&
          mayMatch(types, p, aliases)(f)
      }
    }
  }
}

/** A cross-table transaction handle (see the "cross-table
  * transactions" section in [[GraftTable]] for the protocol): stage
  * writes into any number of tables, then ONE atomic decision-file
  * write makes all of them visible — or none. Nessie's headline
  * capability (multi-table commits) without a commit DAG.
  *
  * Staging rules, all loud:
  *  - a row-level op (deleteWhere/overwriteWhere) must be the table's
  *    FIRST op in the transaction — it plans against the
  *    pre-transaction state, so staging it after an append would
  *    silently miss the appended rows;
  *  - at most one row-level op per table per transaction (two would
  *    double-apply their shared victims);
  *  - staging refuses while a FOREIGN stage (another transaction's or
  *    a WAP group's) is pending on the table.
  * commit() validates the stages are still the newest commits on
  * every table (optimistic concurrency — a table that moved refuses
  * the whole transaction), then decides. Not thread-safe; one writer
  * per handle. */
final class GraftTransaction private[lake] (val txnDir: String, val id: String) {
  import java.nio.file.Paths
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}

  private val decisionPath = Paths.get(txnDir, s"$id.decision").toString
  private val staged =
    scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]
  private val rowLevel = scala.collection.mutable.Set.empty[String]
  private var decided = false

  private def requireOpen(): Unit =
    require(!decided, s"transaction $id is already decided")

  def append(spark: SparkSession, root: String, df: DataFrame): Long = {
    requireOpen()
    val sid = GraftTable.stageAppendInTxn(spark, root, df, decisionPath)
    staged(root) = staged.getOrElse(root, Vector.empty) :+ sid
    sid
  }

  def deleteWhere(spark: SparkSession, root: String, condition: Column): Long =
    overwriteWhere(spark, root, condition, None)

  def overwriteWhere(spark: SparkSession, root: String, condition: Column,
      replacement: Option[DataFrame]): Long = {
    requireOpen()
    require(!staged.contains(root),
      s"a row-level op must be the table's FIRST op in a transaction " +
        s"(it plans against the pre-transaction state); $root already has " +
        s"staged snapshot(s) ${staged(root).mkString(", ")}")
    val sid = GraftTable.stageOverwriteInTxn(spark, root, condition,
      replacement, decisionPath)
    rowLevel += root
    staged(root) = Vector(sid)
    sid
  }

  /** The atomic decision: after this returns, every staged change on
    * every table is visible; if it throws, none is (abort to clean
    * up). Validation-then-decide is optimistic — a table that
    * advanced past its stages refuses the whole transaction. */
  def commit(): Unit = {
    requireOpen()
    require(staged.nonEmpty, "empty transaction: nothing staged")
    staged.foreach { case (root, ids) =>
      val mine = ids.toSet
      val above = GraftTable.listCommitIds(root)
        .filter(_ > ids.min).filterNot(mine.contains)
      require(above.isEmpty,
        s"cannot commit transaction $id: $root advanced past its staged " +
          s"commits (snapshot(s) ${above.mkString(", ")}) — abort and retry")
    }
    GraftTable.decide(decisionPath, "committed")
    decided = true
    // best-effort seals (cache-bust + CDC head); recoverTransactions
    // completes them after a crash
    staged.foreach { case (root, ids) =>
      GraftTable.sealTxn(root, id, ids, "committed")
    }
  }

  /** Retire every staged commit without publishing: the decision file
    * records "aborted" (so a racing commit() cannot revive them) and
    * each table gets abandoned-markers, unblocking main writes. */
  def abort(): Unit = {
    requireOpen()
    GraftTable.decide(decisionPath, "aborted")
    decided = true
    staged.foreach { case (root, ids) =>
      GraftTable.sealTxn(root, id, ids, "aborted")
    }
  }
}
