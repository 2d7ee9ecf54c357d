package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.GraftTable

/** Row lineage — the Iceberg v3 `_row_id` design: every row acquires a
  * stable identity when it enters main lineage (firstRowId + position,
  * allocated from a forward-ratcheting table counter), rewrites
  * MATERIALIZE the ids so identity survives compaction/re-sorting, and
  * staged (WAP) rows have no identity until published. */
class RowLineageSpec extends SparkSpec {

  private def freshRoot(name: String): String =
    scratchRoot("graft-rowlineage-test", name)

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def df(ids: Range) =
    spark.createDataFrame(ids.map(i => Row(i.toLong, s"v$i")).asJava, schema)

  private def idsByKey(root: String): Map[Long, Option[Long]] =
    GraftTable.readWithRowIds(spark, root).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap

  test("appends allocate dense, non-overlapping id blocks; counter ratchets") {
    val root = freshRoot("alloc")
    GraftTable.create(spark, root, schema)
    GraftTable.append(spark, root, df(0 until 100).repartition(2))
    val first = idsByKey(root)
    assert(first.size === 100 && first.values.forall(_.isDefined))
    assert(first.values.map(_.get).toSeq.sorted === (0L until 100L))
    GraftTable.append(spark, root, df(100 until 150).coalesce(1))
    val both = idsByKey(root)
    assert(both.values.map(_.get).toSeq.sorted === (0L until 150L))
    // the first batch's ids did not move
    first.foreach { case (k, id) => assert(both(k) === id) }
    assert(GraftTable.state(root).properties(GraftTable.nextRowIdProp) === "150")
  }

  test("compaction preserves every row's id (materialized through the rewrite)") {
    val root = freshRoot("compact")
    GraftTable.create(spark, root, schema)
    GraftTable.append(spark, root, df(0 until 60).repartition(3))
    GraftTable.append(spark, root, df(60 until 120).repartition(3))
    val before = idsByKey(root)
    val nFilesBefore = GraftTable.state(root).files.count(_.isData)
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = 512L * 1024 * 1024)
    val after = idsByKey(root)
    assert(GraftTable.state(root).files.count(_.isData) < nFilesBefore,
      "compaction must actually merge files")
    assert(after === before, "row ids must survive compaction unchanged")
    // compacted entries carry the materialized marker, not fresh blocks
    assert(GraftTable.state(root).files.filter(_.isData)
      .forall(_.firstRowId.contains(-1L)))
    // and the counter did NOT ratchet for a rewrite
    assert(GraftTable.state(root).properties(GraftTable.nextRowIdProp) === "120")
  }

  test("sort and z-order rewrites reorder rows but never their ids") {
    val root = freshRoot("sorted")
    val zschema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("k2", LongType, nullable = false)))
    GraftTable.create(spark, root, zschema)
    GraftTable.append(spark, root, spark.createDataFrame(
      (0 until 200).map(i => Row(i.toLong, (i * 37 % 100).toLong)).asJava, zschema)
      .orderBy(rand(5)).repartition(2))
    def ids(): Map[Long, Long] = GraftTable.readWithRowIds(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val before = ids()
    assert(before.size === 200)
    GraftTable.rewriteDataFilesSorted(spark, root, Seq("k"), 16L * 1024)
    assert(ids() === before)
    GraftTable.rewriteDataFilesZOrder(spark, root, Seq("k", "k2"), 16L * 1024)
    assert(ids() === before)
  }

  test("MoR delete removes ids with the rows; survivors keep theirs; a second compaction re-carries") {
    val root = freshRoot("mor")
    GraftTable.create(spark, root, schema, Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, df(0 until 80).repartition(2))
    val before = idsByKey(root)
    GraftTable.deleteWhere(spark, root, col("k") % 4 === 0)
    val after = idsByKey(root)
    assert(after.keySet === before.keySet.filter(_ % 4 != 0))
    after.foreach { case (k, id) => assert(id === before(k)) }
    // compacting applies the deletes and carries surviving ids
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = 512L * 1024 * 1024)
    assert(idsByKey(root) === after)
  }

  test("WAP: staged rows have no identity; publish assigns past interleaved main commits") {
    val root = freshRoot("wap")
    GraftTable.create(spark, root, schema, Map("write.wap.enabled" -> "true"))
    GraftTable.append(spark, root, df(0 until 10).coalesce(1))
    val stagedId = GraftTable.appendStaged(spark, root, df(100 until 110).coalesce(1), "wapx")
    // audit read: staged rows are visible but identity-less
    val audit = GraftTable.readWithRowIds(spark, root, Some(stagedId)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(audit.filter(_._1 >= 100).values.forall(_.isEmpty),
      "staged rows must not carry ids before publish")
    assert(audit.filter(_._1 < 10).values.forall(_.isDefined))
    // (an interleaved main data commit is impossible by construction —
    // the pending staged commit occupies main-head+1 and the writer
    // refuses loudly — so publish allocation can never collide)
    GraftTable.cherrypickSnapshot(root, stagedId)
    val ids = idsByKey(root)
    assert(ids.size === 20 && ids.values.forall(_.isDefined))
    assert(ids.values.map(_.get).toSeq.sorted === (0L until 20L))
    // published rows got the ids AT publish, from the main counter
    assert(ids.filter(_._1 >= 100).values.map(_.get).toSeq.sorted === (10L until 20L))
  }

  test("rollback restores original ids; later appends never reuse them") {
    val root = freshRoot("rollback")
    GraftTable.create(spark, root, schema)
    GraftTable.append(spark, root, df(0 until 20).coalesce(1))          // snap 1: ids 0..19
    GraftTable.append(spark, root, df(20 until 30).coalesce(1))         // snap 2: ids 20..29
    val atOne = GraftTable.readWithRowIds(spark, root, Some(1L)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    GraftTable.rollbackToSnapshot(root, 1L)
    assert(idsByKey(root).map { case (k, v) => k -> v.get } === atOne)
    GraftTable.append(spark, root, df(50 until 55).coalesce(1))
    val fresh = idsByKey(root).filter(_._1 >= 50).values.map(_.get).toSet
    assert(fresh.forall(_ >= 30L),
      s"post-rollback ids must come from the high-water counter, got $fresh")
  }

  test("_row_id is a SQL metadata column: resolved on reference, absent from SELECT *") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rl")
    spark.sql("DROP TABLE IF EXISTS graft.rl.lineage")
    spark.sql("CREATE TABLE graft.rl.lineage (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.rl.lineage SELECT id, 'v' || id FROM range(30)")
    // SELECT * must NOT include the metadata column
    assert(spark.sql("SELECT * FROM graft.rl.lineage").columns.toSeq === Seq("k", "v"))
    val rows = spark.sql(
      "SELECT _row_id, k FROM graft.rl.lineage ORDER BY _row_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 30L))
    // filters still work (file pruning + row-wise residual)
    val some = spark.sql(
      "SELECT _row_id FROM graft.rl.lineage WHERE k >= 25 ORDER BY _row_id").collect()
    assert(some.length === 5 && some.forall(!_.isNullAt(0)))
    // compaction keeps the SQL-visible ids too
    spark.sql("CALL graft_system.rewrite_data_files(table => 'rl.lineage')")
    val after = spark.sql(
      "SELECT _row_id, k FROM graft.rl.lineage ORDER BY _row_id").collect()
    assert(after.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      rows.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  // ── one-job bin-pack compaction ─────────────────────────────────────

  /** Data files in path order (the unclustered planner's bin order),
    * packed next-fit at `target` the way rewriteDataFiles plans bins. */
  private def planBins(root: String, target: Long): Seq[Seq[GraftTable.FileEntry]] = {
    val data = GraftTable.state(root).files.filter(_.isData).sortBy(_.path)
    data.foldLeft(Vector.empty[Vector[GraftTable.FileEntry]]) { (bins, f) =>
      if (bins.nonEmpty && bins.last.map(_.sizeBytes).sum + f.sizeBytes <= target)
        bins.init :+ (bins.last :+ f)
      else bins :+ Vector(f)
    }
  }

  /** A file's rows in physical order, projected to `cols`. */
  private def physRows(root: String, path: String, cols: String*): Seq[Row] =
    spark.read.parquet(s"$root/$path").select(cols.map(col): _*).collect().toSeq

  /** Runs `body` and counts the SQL executions that wrote parquet under
    * `root`. Listener delivery is asynchronous but ordered, so a marker
    * query run afterwards flushes every earlier event. */
  private def dataWritesUnder(root: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new java.util.concurrent.atomic.AtomicInteger
    val marker = s"flush-${java.util.UUID.randomUUID()}"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.logical.exists {
          case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toUri.getPath.startsWith(root + "/")
          case _ => false
        }) writes.incrementAndGet()
        if (funcName == "collect" && qe.logical.toString.contains(marker)) flushed.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(marker)).collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never flushed")
    } finally spark.listenerManager.unregister(listener)
    writes.get
  }

  /** Eight single-file appends of shuffled keys, then every MoR delete
    * kind: a position-delete file folded into a DV container, a fresh
    * position-delete file, and two equality-delete groups. */
  private def morTable(root: String): Unit = {
    import spark.implicits._
    GraftTable.create(spark, root, schema)
    val rnd = new scala.util.Random(17)
    (0 until 8).foreach { i =>
      val ks = rnd.shuffle((i * 20 until i * 20 + 20).toList)
      GraftTable.append(spark, root, spark.createDataFrame(
        ks.map(k => Row(k.toLong, s"v${(k * 7919) % 1000}")).asJava, schema).coalesce(1))
    }
    GraftTable.deleteWhereMoR(spark, root, col("k") % 7 === 0)
    GraftTable.rewriteDeletesToDV(spark, root)
    GraftTable.deleteWhereMoR(spark, root, col("k") % 11 === 0)
    GraftTable.deleteEqualityMoR(spark, root, Seq(5L, 50L).toDF("k"))
    GraftTable.deleteEqualityMoR(spark, root, Seq(101L, 150L).toDF("k"))
    val kinds = GraftTable.state(root).files.flatMap(_.content).toSet
    assert(Set(1, 2, 3).subsetOf(kinds), s"delete kinds present: $kinds")
  }

  private def rowsWithIds(root: String): Set[(Long, String, Long)] =
    GraftTable.readWithRowIds(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("bin-pack compaction: one write for every bin, one file per bin, source order kept") {
    val root = freshRoot("onejob")
    morTable(root)
    val before = rowsWithIds(root)
    val live = before.map(_._1)
    val target = GraftTable.state(root).files.filter(_.isData).map(_.sizeBytes).max * 2 + 1
    val bins = planBins(root, target)
    assert(bins.size >= 3, s"want >= 3 bins, planned ${bins.size}")
    val srcPaths = bins.flatten.map(_.path).toSet
    // each bin's expected output: its files' surviving rows, file by
    // file in bin order, each in physical (position) order
    val expected = bins.map(_.flatMap(f =>
      physRows(root, f.path, "k").map(_.getLong(0)).filter(live))).toSet
    val writes = dataWritesUnder(root) {
      GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = target)
    }
    assert(writes === 1, "every bin must rewrite in one write execution")
    val outs = GraftTable.state(root).files.filter(_.isData)
    assert(outs.forall(f => !srcPaths(f.path) && f.firstRowId.contains(-1L)))
    assert(outs.size === bins.size, "one output file per bin")
    assert(outs.map(f => physRows(root, f.path, "k").map(_.getLong(0))).toSet === expected)
    assert(rowsWithIds(root) === before, "rows and _row_ids survive compaction")
  }

  test("bin-pack compaction keeps a declared sort order; the lineage kill switch still binpacks") {
    val root = freshRoot("onejob-sorted")
    morTable(root)
    GraftTable.setWriteOrder(root, Seq(("v", false)), "none")
    val before = rowsWithIds(root)
    val target = GraftTable.state(root).files.filter(_.isData).map(_.sizeBytes).max * 2 + 1
    val bins = planBins(root, target)
    assert(bins.size >= 3, s"want >= 3 bins, planned ${bins.size}")
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = target)
    val outs = GraftTable.state(root).files.filter(_.isData)
    assert(outs.size === bins.size)
    outs.foreach { f =>
      val vs = physRows(root, f.path, "v").map(_.getString(0))
      assert(vs === vs.sorted.reverse, s"${f.path} ignores the declared order")
    }
    assert(rowsWithIds(root) === before)
    // kill switch: same one-file-per-bin rewrite, outputs unstamped
    val plain = spark.newSession()
    plain.conf.set("spark.graft.row-lineage.rewrite", "false")
    GraftTable.append(spark, root, df(1000 until 1010).coalesce(1))
    val target2 = GraftTable.state(root).files.filter(_.isData).map(_.sizeBytes).sum + 1
    GraftTable.rewriteDataFiles(plain, root, targetFileSizeBytes = target2)
    val one = GraftTable.state(root).files.filter(_.isData)
    assert(one.size === 1 && !one.head.firstRowId.contains(-1L))
    assert(GraftTable.read(spark, root).count() === before.size + 10)
  }

  test("bin-pack compaction on a partitioned table: one file per bin and tuple") {
    val root = freshRoot("onejob-part")
    val pschema = StructType(schema.fields :+ StructField("p", IntegerType, nullable = false))
    GraftTable.create(spark, root, pschema, Map(GraftTable.specProp -> "identity(p)"))
    (0 until 6).foreach { i =>
      GraftTable.append(spark, root, spark.createDataFrame(
        (i * 20 until i * 20 + 20).map(k => Row(k.toLong, s"v$k", k % 2)).asJava, pschema)
        .coalesce(1))
    }
    GraftTable.deleteWhereMoR(spark, root, col("k") % 9 === 0)
    val live = GraftTable.read(spark, root).select("k").collect().map(_.getLong(0)).toSet
    val target = GraftTable.state(root).files.filter(_.isData).map(_.sizeBytes).max * 3 + 1
    val bins = planBins(root, target)
    assert(bins.size >= 3, s"want >= 3 bins, planned ${bins.size}")
    def tuple(f: GraftTable.FileEntry): Map[String, String] = f.partition.get
    val expected = bins.flatMap { b =>
      b.groupBy(tuple).map { case (t, fs) =>
        t -> b.filter(fs.contains).flatMap(f =>
          physRows(root, f.path, "k").map(_.getLong(0)).filter(live))
      }
    }.toSet
    assert(expected.map(_._1).size === 2 && expected.size > bins.size)
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = target)
    val outs = GraftTable.state(root).files.filter(_.isData)
    outs.foreach { f =>
      val ps = physRows(root, f.path, "p").map(_.getInt(0)).toSet
      assert(ps.map(_.toString) === Set(tuple(f)("p")), s"${f.path} carries the wrong tuple")
    }
    assert(outs.map(f => tuple(f) -> physRows(root, f.path, "k").map(_.getLong(0))).toSet ===
      expected)
  }

  test("lineage survives the checkpoint parquet roundtrip") {
    val root = freshRoot("ckpt")
    GraftTable.create(spark, root, schema)
    GraftTable.append(spark, root, df(0 until 40).repartition(2))
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = 512L * 1024 * 1024)
    val before = idsByKey(root)
    GraftTable.rewriteManifests(root)
    // force the replay cache out of the picture: a fresh JVM would
    // reconstruct entries from ckptfiles parquet — emulate by reading
    // the checkpointed state through the metadata view too
    assert(idsByKey(root) === before)
    val filesDf = GraftTable.filesTable(spark, root)
    assert(filesDf.count() > 0)
  }
}
