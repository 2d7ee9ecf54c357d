package graft.lake

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => V2Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The CDC change feed as a Structured Streaming SOURCE — Delta's
  * `readChangeFeed` / Iceberg's changelog-as-stream workflow
  * (reference: the Iceberg runtime the guide's spark-defaults.conf
  * loads serves the same feed through its changelog tables):
  *
  * {{{
  *   spark.readStream.format("graft-cdc")
  *     .option("path", tableRoot)
  *     .option("startingSnapshotId", "0")   // default: head at start
  *     .load()
  * }}}
  *
  * Offsets ARE snapshot ids: each micro-batch serves
  * `GraftTable.changes(prev, head]` — appends emit their added rows as
  * `insert`, row-level ops emit `delete`/`insert` diffs of touched
  * files only, maintenance commits emit nothing, staged (WAP) commits
  * enter the feed only at their publishing cherrypick. Exactly-once
  * falls out of the range semantics: the feed for (a, b] is a pure
  * function of the log, and the engine checkpoints offsets.
  *
  * Loud-failure contract inherited from `changes`: a range crossing
  * REPLACE TABLE or an expired commit throws mid-stream rather than
  * serving a silently-partial feed — restart from a fresh
  * startingSnapshotId after expiry, exactly like Delta CDF. */
class GraftCdcStreamProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.get("path").orElse(parameters.get("root")).getOrElse(
      throw new IllegalArgumentException(
        "graft-cdc needs .option(\"path\", <table root>)"))

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft-cdc", GraftCdcStreamProvider.cdcSchema(rootOf(parameters)))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    // Default-start ("head at stream start") must be resolved ONCE and
    // survive recovery: createSource re-runs on every restart, and a
    // crash before batch 0 commits would otherwise re-resolve `head`
    // at restart time — silently skipping commits that landed in
    // between (or inverting the range). Persist the first resolution
    // under metadataPath (the FileStreamSource pattern) and reuse it.
    // An explicit startingSnapshotId is stable by construction.
    val start = parameters.get("startingSnapshotId").map(_.toLong)
      .getOrElse(GraftCdcStreamProvider.resolveInitialStart(ctx, metadataPath, root))
    new GraftCdcSource(ctx, root, start,
      parameters.get("maxSnapshotsPerTrigger").map(_.toInt),
      parameters.get("maxRowsPerTrigger").map(_.toLong))
  }
}

private[lake] object GraftCdcStreamProvider {
  /** End schema of the table + the three CDC columns (the same shape
    * GraftTable.changes emits). Fires the poll hook FIRST: on a blank
    * follower the schema itself lives only in the store's commit log,
    * and without the sync the advertised "one readStream, zero manual
    * sync calls" contract would die here before the first poll. */
  def cdcSchema(root: String): StructType = {
    GraftTable.beforeLogPoll.foreach(
      _(java.nio.file.Paths.get(root).toAbsolutePath.normalize))
    GraftTable.state(root).schema.add("_change_type", StringType)
      .add("_commit_snapshot_id", LongType)
      .add("_commit_timestamp_ms", LongType)
  }

  /** Latest published (on-main) snapshot id — a staged WAP or branch
    * head must not become an offset bound that later re-serves its
    * rows out of order once published. The beforeLogPoll hook fires
    * FIRST: a mounted auto-sync follower pulls new remote commits
    * here, so every poll (and the stream-start head resolution) sees
    * the store's current head with zero manual sync calls. */
  def mainHead(root: String): Long = {
    // normalized: a cwd-relative or dotted stream path must still hit
    // the mount's component-wise startsWith, or auto-sync silently
    // stalls the follower at its bootstrap head
    GraftTable.beforeLogPoll.foreach(
      _(java.nio.file.Paths.get(root).toAbsolutePath.normalize))
    GraftTable.listCommitIds(root)
      .filterNot(id => GraftTable.isOffMainId(root, id)).max
  }

  /** First-start head resolution, durably pinned under the stream's
    * metadataPath. Write is tmp-file + rename; if a concurrent or
    * crashed earlier attempt already renamed the marker, that earlier
    * resolution wins (it is the one batch 0 may have been planned
    * against). */
  def resolveInitialStart(ctx: SQLContext, metadataPath: String, root: String): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(metadataPath)
    val fs = dir.getFileSystem(ctx.sparkSession.sessionState.newHadoopConf())
    val marker = new Path(dir, "graft-cdc-start")
    def readMarker(): Long = {
      val in = fs.open(marker)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
    if (fs.exists(marker)) readMarker()
    else {
      val head = mainHead(root)
      fs.mkdirs(dir)
      val tmp = new Path(dir, s".graft-cdc-start.${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, true)
      try out.write(head.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (fs.rename(tmp, marker)) head
      else { fs.delete(tmp, false); readMarker() }
    }
  }
}

/** One table's CDC feed as a V1 streaming Source: `getOffset` is the
  * published log head, `getBatch(a, b]` delegates to the batch
  * `changes` engine — per-commit cost scales with what each commit
  * touched (SURVEY §5's CDC rule), never with table size.
  *
  * ADMISSION CONTROL (the Delta `maxFilesPerTrigger` backfill
  * workflow): `maxSnapshotsPerTrigger` / `maxRowsPerTrigger` bound
  * each micro-batch — a stream started at snapshot 0 over a table
  * with years of history drains in bounded batches instead of one
  * giant catch-up batch the cluster can't hold. Row budgeting uses
  * each pending commit's added-record count (maintenance commits
  * count 0 — the feed emits nothing for them) and always admits at
  * least one commit, so progress is guaranteed. With
  * `Trigger.AvailableNow` the head is pinned at start
  * (prepareForTriggerAvailableNow) and the stream processes exactly
  * that history, rate-limited, then stops. */
private[lake] class GraftCdcSource(ctx: SQLContext, root: String,
    startExclusive: Long, maxSnapshotsPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends Source with SupportsTriggerAvailableNow {

  override val schema: StructType = GraftCdcStreamProvider.cdcSchema(root)

  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(GraftCdcStreamProvider.mainHead(root))

  private def publishedHead: Long = {
    val h = GraftCdcStreamProvider.mainHead(root)
    availableNowCap.fold(h)(math.min(h, _))
  }

  override def getOffset: Option[V1Offset] = {
    val head = publishedHead
    if (head <= startExclusive) None else Some(LongOffset(head))
  }

  override def getDefaultReadLimit: ReadLimit =
    (maxSnapshotsPerTrigger, maxRowsPerTrigger) match {
      case (Some(s), Some(r)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(s), ReadLimit.maxRows(r)))
      case (Some(s), None) => ReadLimit.maxFiles(s)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case _ => ReadLimit.allAvailable()
    }

  override def reportLatestOffset(): V2Offset = LongOffset(publishedHead)

  override def latestOffset(startOffset: V2Offset, limit: ReadLimit): V2Offset = {
    val from = Option(startOffset).map {
      case l: LongOffset => l.offset
      case other => other.json().toLong
    }.getOrElse(startExclusive)
    val head = publishedHead
    if (head <= from) return null
    // pending published commits with their admission row counts; the
    // range is contiguous in the log, so bounding = picking the last
    // admitted commit id as the end offset
    val pending = GraftTable.pendingCommitRows(root, from, head)
    if (pending.isEmpty) return LongOffset(head)   // only staged ids pend
    def applyOne(l: ReadLimit, ids: Seq[(Long, Long)]): Seq[(Long, Long)] = l match {
      case _: ReadAllAvailable => ids
      case m: ReadMaxFiles => ids.take(math.max(1, m.maxFiles))
      case m: ReadMaxRows =>
        var cum = 0L
        val keep = ids.takeWhile { case (_, n) => val ok = cum < m.maxRows(); cum += n; ok }
        if (keep.isEmpty) ids.take(1) else keep   // always make progress
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(ids)((acc, x) => applyOne(x, acc))
      case _ => ids
    }
    val admitted = applyOne(limit, pending)
    LongOffset(admitted.last._1)
  }

  private def bound(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json().toLong   // engine-restored SerializedOffset
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val from = start.map(bound).getOrElse(startExclusive)
    val raw = GraftTable.changes(ctx.sparkSession, root, from, bound(end))
    // conform to the schema PINNED at stream start: a column ADDED
    // mid-stream stays out of the feed until a restart re-pins (the
    // Delta-CDF contract); a pinned column the range no longer serves
    // (dropped mid-stream) null-fills rather than failing the engine's
    // schema assertion
    val conformed = raw.select(schema.fields.toSeq.map { f =>
      if (raw.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    // the engine asserts getBatch returns an isStreaming=true frame;
    // only the internal constructor makes one
    org.apache.spark.sql.GraftSqlShims.internalCreateStreamingDataFrame(
      ctx.sparkSession, conformed.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}
