package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.SparkPlan

import graft.lake.{GraftS3, GraftS3Server, GraftTable}

/** lake_query and s3_follower_query: one seeded mix of SQL queries
  * through a graft catalog, against a lineitem-shaped table built in
  * set-up — appended in ship-date order over many files, with MoR
  * position and equality deletes applied, a checkpoint, then a tail of
  * commits after it. No commit happens while queries are timed.
  *
  * lake_query reads the table where it was written, on the local file
  * system. s3_follower_query publishes it to an in-JVM [[GraftS3Server]]
  * and queries a lazy follower ([[GraftS3.mountOnDemandHydration]])
  * whose local cache budget is a quarter of the table's data bytes, so
  * hydration, eviction and GETs are on the path; before each query the
  * follower polls the store for new commits ([[GraftS3.syncMetadata]]),
  * as a serving follower does. Every answer must equal the in-memory
  * [[QueryOracle]]'s, so both workloads give identical answers. */
final class LakeQuery(spark: SparkSession, work: Path, seed: Long, viaS3: Boolean)
    extends Workload {
  import LakeQuery._

  private val catalog = if (viaS3) "gbf" else "gb"
  private val warehouse = work.resolve(if (viaS3) "follower" else "warehouse")
  private val creds = GraftS3.Credentials("GRAFTBENCH", "graftbench-secret")
  private var table = ""
  private var root: Path = _
  private var baseSnapshot = 0L
  private var oracle: QueryOracle = _
  private var server: Option[GraftS3Server] = None
  private var follower: Option[AutoCloseable] = None
  private var sizes = ""
  private var queries: SplittableRandom = _

  spark.conf.set(s"spark.sql.catalog.$catalog", "graft.lake.GraftSparkCatalog")
  spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse.toString)

  override def describe: Seq[String] = Seq(
    s"${if (viaS3) "s3_follower_query" else "lake_query"}: $sizes; query mix " +
      mix.map { case (k, n) => s"$k $n/$blockSize" }.mkString(", ") +
      s"; ${spark.sparkContext.master}, one client, closed loop")

  def setup(rep: Int): Unit = {
    close()
    val name = s"t$rep"
    table = s"$catalog.ns.$name"
    root = warehouse.resolve("ns").resolve(name)
    val r = Gen.rng(seed, "lake_query.table")
    val base = Gen.shipOrdered(r, 0L, tableRows)
    val current = scala.collection.mutable.LongMap.empty[Line]
    base.foreach(l => current(l.rowId) = l)
    // the writer: the table itself, or the publishing side of the store
    val writerRoot = if (!viaS3) root else work.resolve(s"writer/ns/$name")
    var writerMounts = if (!viaS3) Nil else {
      val s = new GraftS3Server("graftbench", creds)
      server = Some(s)
      val wh = work.resolve("writer")
      Files.createDirectories(wh)
      Seq(GraftS3.mountCommitArbiter(wh, s.client), GraftS3.mountArtifactMirror(wh, s.client))
    }
    try {
      val w = writerRoot.toString
      GraftTable.create(spark, w, Line.schema)
      // one bulk load; each of its tableFiles tasks writes a contiguous
      // ship-date (and row-id) range as its own file
      GraftTable.append(spark, w, spark.createDataFrame(
        spark.sparkContext.parallelize(base.toSeq.map(_.toRow), tableFiles), Line.schema))
      baseSnapshot = GraftTable.state(w).snapshotId
      // MoR edits: a range delete (position deletes) and a keyed upsert
      // (equality deletes), then a checkpoint, then a tail past it
      val lo0 = r.nextLong(0L, tableRows - 300L)
      GraftTable.deleteWhereMoR(spark, w, col("row_id") >= lo0 && col("row_id") < lo0 + 300)
      (lo0 until lo0 + 300).foreach(current.remove)
      val ups = r.ints(300L, 0, tableRows).toArray.distinct.toSeq
        .flatMap(i => current.get(i.toLong)).map(l => Gen.revise(r, l))
      GraftTable.upsertEqualityMoR(spark, w, Line.toDf(spark, ups), Seq("row_id"))
      ups.foreach(l => current(l.rowId) = l)
      GraftTable.rewriteManifests(w)
      val tail = Gen.shipOrdered(r, tableRows, tailRows)
      GraftTable.append(spark, w, Line.toDf(spark, tail.toSeq))
      tail.foreach(l => current(l.rowId) = l)
      val lo = r.nextLong(0L, tableRows - 100L)
      GraftTable.deleteWhereMoR(spark, w, col("row_id") >= lo && col("row_id") < lo + 100)
      (lo until lo + 100).foreach(current.remove)
      val snap = GraftTable.state(w)
      val dataBytes = snap.files.filter(_.isData).map(_.sizeBytes).sum
      sizes = s"${current.size} live rows in ${snap.files.count(_.isData)} data files " +
        s"($dataBytes B) + ${snap.files.count(_.isDelete)} delete files"
      oracle = new QueryOracle(current.values, base)
      server.foreach { s =>
        writerMounts.foreach(_.close()); writerMounts = Nil
        Files.createDirectories(root)
        val budget = dataBytes / 4
        follower = Some(GraftS3.mountOnDemandHydration(warehouse, s.client,
          maxLocalBytes = Some(budget)))
        GraftS3.syncMetadata(root, s.client, s"ns/$name")
        sizes += s"; follower cache budget $budget B (1/4 of the data bytes)"
      }
    } finally writerMounts.foreach(_.close())
    // warm-up: two blocks of the mix (JIT, codegen, footers)
    val warm = Gen.rng(seed, "lake_query.warmup")
    (0 until 2).flatMap(_ => block(warm)).foreach(runQuery(_, None))
    queries = Gen.rng(seed, "lake_query.queries")
  }

  /** One query: (rendered rows, rows the scans produced). */
  private def runQuery(q: QuerySpec, t: Option[Tracer]): (Seq[String], Long) = {
    val tr = t.getOrElse(new Tracer(false))
    server.foreach(s => tr.span("GraftS3.syncMetadata")(
      GraftS3.syncMetadata(root, s.client, s"ns/${root.getFileName}")))
    val df = tr.span("sql.analyze")(spark.sql(q.sql(table, baseSnapshot)))
    val plan = tr.span("sql.plan")(df.queryExecution.executedPlan)
    val rows = tr.span("sql.exec")(df.collect())
    (rows.map(r => QueryOracle.render(r.toSeq)).toSeq, scanRows(plan))
  }

  /** Rows produced by the plan's leaf scans (their numOutputRows). */
  private def scanRows(plan: SparkPlan): Long = {
    val leaves = plan.collectLeaves() ++ plan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collectLeaves()
    }.flatten
    leaves.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }

  def measure(seconds: Double, t: Tracer): Phase = {
    val opMs = ArrayBuffer.empty[Double]
    val results = ArrayBuffer.empty[(QuerySpec, Seq[String])]
    val failures = ArrayBuffer.empty[String]
    val byKind = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    var planned = 0L; var total = 0L
    var rowsRead = 0L; var rowsReturned = 0L
    val bytes0 = server.map(_.bytesServedUnder("")).getOrElse(0L)
    val gets0 = server.map(_.getCalls.get).getOrElse(0)
    val cache0 = GraftS3.cacheStats(warehouse)
    var busyNs = 0L
    // whole blocks only, so every phase runs the mix's exact shares
    while (busyNs < seconds * 1e9 || opMs.size < minBlocks * blockSize)
      block(queries).foreach { q =>
        t.nextOp()
        val t0 = System.nanoTime()
        val out =
          try Some(t.span("op.query")(runQuery(q, Some(t))))
          catch { case e: Exception =>
            failures += s"${q.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}"; None }
        val dt = System.nanoTime() - t0
        busyNs += dt
        opMs += dt / 1e6
        byKind.getOrElseUpdate(q.kind, ArrayBuffer.empty) += dt / 1e6
        out.foreach { case (rows, read) =>
          results += ((q, rows))
          rowsRead += read; rowsReturned += rows.size
        }
        if (t.enabled) {
          val p = t.span("GraftTable.planScan")(GraftTable.planScan(spark, root.toString, q.preds,
            if (q.kind == "timetravel") Some(baseSnapshot) else None))
          planned += p.liveFiles; total += p.totalFiles
        }
      }
    results.foreach { case (q, rows) => oracle.check(q, rows).foreach(failures += _) }
    val n = opMs.size
    val perQuery = s"over $n queries"
    val layers = if (!t.enabled) Nil else {
      val served = server.map(_.bytesServedUnder("") - bytes0).getOrElse(0L)
      val gets = server.map(_.getCalls.get - gets0).getOrElse(0)
      val cache = GraftS3.cacheStats(warehouse)
      def delta(f: GraftS3.CacheStats => Long): Long =
        cache.map(f).getOrElse(0L) - cache0.map(f).getOrElse(0L)
      val hits = delta(_.hydrateHits); val misses = delta(_.hydrateMisses)
      Seq(
        Layers.p50("sql.analyze.ms_p50", t.durationsMs("sql.analyze")),
        Layers.p50("sql.plan.ms_p50", t.durationsMs("sql.plan")),
        Layers.p50("sql.exec.ms_p50", t.durationsMs("sql.exec")),
        Layers.p50("GraftS3.syncMetadata.ms_p50", t.durationsMs("GraftS3.syncMetadata")),
        Metric("scan.prune_ratio", 1.0 - planned.toDouble / math.max(1L, total), "ratio",
          s"1 - $planned planned / $total files, $perQuery"),
        Metric("scan.rows_read_per_row_returned",
          rowsRead.toDouble / math.max(1L, rowsReturned), "ratio",
          s"$rowsRead scanned / $rowsReturned returned, $perQuery"),
        Metric("GraftS3Server.bytes_served_per_query", served.toDouble / n, "B/query",
          s"$served B $perQuery"),
        Metric("GraftS3Server.get_requests_per_query", gets.toDouble / n, "1/query",
          s"$gets GETs $perQuery"),
        Metric("GraftS3.hydrate_hit_ratio", hits.toDouble / math.max(1L, hits + misses),
          "ratio", s"$hits hits / ${hits + misses} files asked for"),
        Metric("GraftS3.bytes_hydrated", delta(_.bytesHydrated).toDouble / n, "B/query",
          s"${delta(_.bytesHydrated)} B $perQuery"),
        Metric("GraftS3.bytes_evicted", delta(_.bytesEvicted).toDouble / n, "B/query",
          s"${delta(_.bytesEvicted)} B $perQuery")) ++
        mix.map { case (k, _) =>
          Layers.p50(s"query.$k.ms_p50", byKind.get(k).map(_.toSeq).getOrElse(Nil)) }
    }
    Phase(opMs.toSeq, n, busyNs / 1e9, results.size, failures.toSeq, Nil, layers)
  }

  override def close(): Unit = {
    follower.foreach(_.close()); follower = None
    server.foreach(_.close()); server = None
  }
}

object LakeQuery {
  /** Rows bulk-loaded as [[tableFiles]] files, then the tail commit's. */
  val tableRows = 80000
  val tableFiles = 8
  val tailRows = 1000
  /** Query kinds and how many of each one [[block]] holds. */
  val mix: Seq[(String, Int)] = Seq("point" -> 4, "range" -> 2, "agg" -> 1, "timetravel" -> 1)
  val blockSize: Int = mix.map(_._2).sum
  /** A phase runs at least this many blocks: stopping at `seconds`
    * alone made runs hold three blocks or four, by the machine's speed. */
  val minBlocks = 4

  /** A query of `kind` with seeded parameters: a row id over the whole
    * id space (deleted ids included), a one-week ship-date window, or
    * one calendar month. */
  def spec(r: SplittableRandom, kind: String): QuerySpec = kind match {
    case "point" | "timetravel" => QuerySpec(kind, r.nextLong(0L, tableRows + tailRows), 0L)
    case "range" =>
      val d = Gen.firstShipDay + r.nextInt(Gen.shipDays - 7)
      QuerySpec(kind, d, d + 7)
    case "agg" =>
      val m = java.time.LocalDate.ofEpochDay(Gen.firstShipDay).plusMonths(r.nextInt(82))
        .withDayOfMonth(1)
      QuerySpec(kind, m.toEpochDay, m.plusMonths(1).toEpochDay)
  }

  /** The next [[blockSize]] queries: each kind as often as [[mix]]
    * says, in a seeded order. Exact shares keep the mix, and with it the
    * latency distribution, the same for every seed. */
  def block(r: SplittableRandom): Seq[QuerySpec] = {
    val kinds = mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
    for (i <- kinds.indices.reverse) {   // Fisher-Yates
      val j = r.nextInt(i + 1)
      val k = kinds(i); kinds(i) = kinds(j); kinds(j) = k
    }
    kinds.toSeq.map(spec(r, _))
  }
}
