package graftbench

import java.nio.file.{Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.lake.GraftTable

/** lake_ingest: a stream of small commits into one GraftTable — mostly
  * appends, with an equality-MoR upsert of live row ids or a MoR delete
  * of a row-id range every few commits — and a maintenance cycle
  * (compact, fold equality deletes, checkpoint, expire, remove orphans)
  * after every [[LakeIngest.cycle]] commits. Writes and maintenance do
  * the work; the SQL read path and the object store are idle.
  *
  * After each cycle, outside the timed operations, the table's row
  * count and checksum must equal the in-memory model, and a time-travel
  * read of the snapshot recorded mid-cycle must equal the model as it
  * was then. */
final class LakeIngest(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import LakeIngest._

  private var root: String = _
  private var rng: SplittableRandom = _
  private var model: IngestModel = _
  private var nextId = 0L
  private var opIndex = 0L
  private var runs = 0

  override def describe: Seq[String] = Seq(
    s"lake_ingest: $initialRows initial rows; cycles of $cycle commits " +
      s"(appends of $appendRows rows, upserts of $upsertRows rows, deletes of " +
      s"$deleteWidth-id ranges) then maintenance; target file size $targetFileBytes B; " +
      s"${spark.sparkContext.master}, one client, closed loop")

  def setup(rep: Int): Unit = {
    runs += 1
    root = work.resolve(s"ingest/t$runs").toString
    Lake.deleteTree(Paths.get(root))
    rng = Gen.rng(seed, "ingest")
    model = new IngestModel
    nextId = 0L; opIndex = 0L
    GraftTable.create(spark, root, Line.schema,
      Map("write.target-file-size-bytes" -> targetFileBytes.toString))
    val initial = Gen.shipOrdered(rng, nextId, initialRows)
    nextId += initialRows
    GraftTable.append(spark, root, Line.toDf(spark, initial.toSeq))
    model.append(initial)
    // warm-up: ten commits (every kind) and a maintenance cycle, so the
    // timed phase starts with every code path compiled
    val warm = new Tracer(false)
    (0 until 10).foreach(_ => commitOp(warm))
    maintain(warm, new Acc)
    opIndex = 0L
    check("warm-up").foreach(f => throw new IllegalStateException(f))
  }

  override def reset(): Unit = setup(0)

  /** Accumulates one phase's maintenance and file counts. */
  private final class Acc {
    var cycles = 0
    var filesIn = 0L; var filesOut = 0L; var bytesRewritten = 0L; var orphans = 0L
  }

  private def nextKind(): String = {
    opIndex += 1
    opIndex % 10 match {
      case 2 => "upsert"
      case 4 => "delete"
      case _ => "append"
    }
  }

  /** One commit: returns (kind, user rows committed, input bytes). */
  private def commitOp(t: Tracer): (String, Long, Long) = nextKind() match {
    case "append" =>
      val ls = Gen.shipOrdered(rng, nextId, appendRows)
      nextId += appendRows
      t.span("GraftTable.append")(GraftTable.append(spark, root, Line.toDf(spark, ls.toSeq)))
      model.append(ls)
      ("append", ls.length.toLong, ls.map(_.logicalBytes).sum)
    case "upsert" =>
      val ls = sampleLive(upsertRows).map(l => Gen.revise(rng, l))
      t.span("GraftTable.upsertEqualityMoR")(
        GraftTable.upsertEqualityMoR(spark, root, Line.toDf(spark, ls), Seq("row_id")))
      model.upsert(ls)
      ("upsert", ls.size.toLong, ls.map(_.logicalBytes).sum)
    case "delete" =>
      val lo = rng.nextLong(0L, nextId - deleteWidth)
      val hi = lo + deleteWidth
      t.span("GraftTable.deleteWhereMoR")(GraftTable.deleteWhereMoR(spark, root,
        col("row_id") >= lo && col("row_id") < hi))
      model.deleteRange(lo, hi)
      ("delete", 0L, 0L)
  }

  /** `n` distinct live rows drawn uniformly by row id. */
  private def sampleLive(n: Int): Seq[Line] = {
    val picked = scala.collection.mutable.LinkedHashMap.empty[Long, Line]
    while (picked.size < n) {
      val id = rng.nextLong(0L, nextId)
      if (!picked.contains(id)) model.get(id).foreach(l => picked(id) = l)
    }
    picked.values.toSeq
  }

  private def maintain(t: Tracer, acc: Acc): Unit = {
    val before = GraftTable.state(root).files.filter(_.isData)
    t.span("GraftTable.rewriteDataFiles")(GraftTable.rewriteDataFiles(spark, root))
    t.span("GraftTable.rewriteEqualityDeletes")(GraftTable.rewriteEqualityDeletes(spark, root))
    t.span("GraftTable.rewriteManifests")(GraftTable.rewriteManifests(root))
    t.span("GraftTable.expireSnapshots")(GraftTable.expireSnapshots(root, retainLast))
    val removed = t.span("GraftTable.removeOrphanFiles")(
      GraftTable.removeOrphanFiles(root, System.currentTimeMillis()))
    val after = GraftTable.state(root).files.filter(_.isData)
    val beforePaths = before.map(_.path).toSet
    val afterPaths = after.map(_.path).toSet
    acc.cycles += 1
    acc.orphans += removed.size
    acc.filesIn += before.count(f => !afterPaths.contains(f.path))
    val out = after.filter(f => !beforePaths.contains(f.path))
    acc.filesOut += out.size
    acc.bytesRewritten += out.map(_.sizeBytes).sum
  }

  /** (count, checksum) of the table at `asOf`, summed on the executors. */
  private def readBack(asOf: Option[Long]): (Long, Long) = {
    val df: DataFrame = GraftTable.read(spark, root, asOf)
      .select(Line.schema.fieldNames.map(col).toSeq: _*)
    df.rdd.mapPartitions(it => Iterator(IngestModel.summarize(it.map(Line.fromRow).toSeq)))
      .collect().foldLeft((0L, 0L)) { case ((n, s), (a, b)) => (n + a, s + b) }
  }

  private def check(what: String): Option[String] = {
    val (n, s) = readBack(None)
    model.check(what, n, s)
  }

  def measure(seconds: Double, t: Tracer): Phase = {
    val acc = new Acc
    val commitMs = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[String]
    var checks = 0
    var busyNs = 0L
    var maintNs = 0L
    var rows = 0L
    var inputBytes = 0L
    var seen = Lake.files(Paths.get(root))
    var bytesWritten = 0L
    var filesWritten = 0L
    def observeWrites(): Unit = {
      val now = Lake.files(Paths.get(root))
      val fresh = now.filter { case (p, _) => !seen.contains(p) }
      bytesWritten += fresh.values.sum
      filesWritten += fresh.size
      seen = now
    }
    val stateMs = ArrayBuffer.empty[Double]
    // Whole cycles: a 20-commit cycle with its maintenance takes ~11-14 s,
    // so a run of --seconds 8 holds exactly one on any machine up to 25%
    // faster than the one it was sized on, and every run has the same
    // mix of commits and maintenance.
    while (busyNs < seconds * 1e9) {
      var recorded: Option[(Long, Long, Long)] = None   // (snapshot, count, checksum)
      (1 to cycle).foreach { i =>
        t.nextOp()
        val t0 = System.nanoTime()
        val (_, n, bytes) =
          try t.span("op.commit")(commitOp(t))
          catch { case e: Exception =>
            failures += s"commit: ${e.getClass.getSimpleName}: ${e.getMessage}"; ("", 0L, 0L) }
        val dt = System.nanoTime() - t0
        busyNs += dt
        commitMs += dt / 1e6
        rows += n; inputBytes += bytes
        // the first state() after a commit replays the new log tail
        if (t.enabled) stateMs += Lake.timedMs(
          t.span("GraftTable.state")(GraftTable.state(root)))._2
        observeWrites()
        if (i == cycle / 2)
          recorded = Some((GraftTable.state(root).snapshotId, model.count, model.checksum))
      }
      t.nextOp()
      val m0 = System.nanoTime()
      try t.span("op.maintenance")(maintain(t, acc))
      catch { case e: Exception =>
        failures += s"maintenance: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      val dm = System.nanoTime() - m0
      busyNs += dm; maintNs += dm
      observeWrites()
      checks += 2
      check(s"after cycle ${acc.cycles}").foreach(failures += _)
      recorded.foreach { case (snap, n, s) =>
        val (gn, gs) = readBack(Some(snap))
        IngestModel.compare(s"time travel to snapshot $snap", n, s, gn, gs).foreach(failures += _)
      }
    }
    val snap = GraftTable.state(root)
    val live = snap.files.filter(_.isData)
    val tableBytes = Lake.files(Paths.get(root)).values.sum
    val spaceAmp = tableBytes.toDouble / math.max(1L, live.map(_.sizeBytes).sum)
    val writeAmp = bytesWritten.toDouble / math.max(1L, inputBytes)
    val perCycle = s"per cycle, ${acc.cycles} cycles"
    def perCycleMs(name: String) =
      Metric(s"$name.ms", t.durationsMs(name).sum / math.max(1, acc.cycles), "ms", perCycle)
    val extra = Seq(
      Metric("maintenance_s", maintNs / 1e9, "s", s"${acc.cycles} cycles"),
      Metric("write_amp", writeAmp, "ratio", s"$bytesWritten B written / $inputBytes B input"),
      Metric("space_amp", spaceAmp, "ratio",
        s"$tableBytes B under root / ${live.map(_.sizeBytes).sum} B live data"))
    val layers = if (!t.enabled) Nil else Seq(
      Layers.p50("GraftTable.append.ms_p50", t.durationsMs("GraftTable.append")),
      Layers.p50("GraftTable.upsertEqualityMoR.ms_p50", t.durationsMs("GraftTable.upsertEqualityMoR")),
      Layers.p50("GraftTable.deleteWhereMoR.ms_p50", t.durationsMs("GraftTable.deleteWhereMoR")),
      Layers.p50("GraftTable.state.ms_p50", stateMs.toSeq),
      perCycleMs("GraftTable.append"),
      Metric("GraftTable.log_commits", Lake.files(Paths.get(root, "_graft_log"))
        .keys.count(_.matches("\\d{10}\\.json")), "count", "at end"),
      Metric("GraftTable.live_data_files", live.size, "count", "at end"),
      Metric("GraftTable.live_delete_files", snap.files.count(_.isDelete), "count", "at end"),
      Metric("GraftTable.bytes_written", bytesWritten, "B", s"${commitMs.size} commits"),
      Metric("GraftTable.files_written", filesWritten, "count", s"${commitMs.size} commits"),
      Metric("GraftTable.write_amp", writeAmp, "ratio", extra(1).base),
      Metric("GraftTable.space_amp", spaceAmp, "ratio", extra(2).base),
      Metric("GraftTable.maintenance_s", maintNs / 1e9, "s", s"${acc.cycles} cycles"),
      perCycleMs("GraftTable.rewriteDataFiles"),
      Metric("GraftTable.rewriteDataFiles.files_in", acc.filesIn.toDouble / acc.cycles, "count", perCycle),
      Metric("GraftTable.rewriteDataFiles.files_out", acc.filesOut.toDouble / acc.cycles, "count", perCycle),
      Metric("GraftTable.rewriteDataFiles.bytes_rewritten",
        acc.bytesRewritten.toDouble / acc.cycles, "B", perCycle),
      perCycleMs("GraftTable.rewriteEqualityDeletes"),
      perCycleMs("GraftTable.rewriteManifests"),
      perCycleMs("GraftTable.expireSnapshots"),
      perCycleMs("GraftTable.removeOrphanFiles"),
      Metric("GraftTable.removeOrphanFiles.files_removed", acc.orphans.toDouble / acc.cycles,
        "count", perCycle))
    Phase(commitMs.toSeq, rows, busyNs / 1e9, checks, failures.toSeq, extra, layers)
  }
}

object LakeIngest {
  val initialRows = 5000
  val appendRows = 1000
  val upsertRows = 200
  val deleteWidth = 150
  /** Commits per maintenance cycle: in every ten, eight appends, an
    * upsert and a delete. */
  val cycle = 20
  val targetFileBytes: Long = 96L * 1024
  /** Snapshots kept by expiry: covers the mid-cycle time-travel target. */
  val retainLast = 16
}
