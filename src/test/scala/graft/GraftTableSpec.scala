package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.lake.GraftTable
import graft.sources.Tables

/** Lifecycle coverage for SURVEY.md §2.2 items whose surface is
  * spec-only: create/properties, history, manifest rewrite, snapshot
  * expiry, orphan removal, stats pruning, diagnostics. */
class GraftTableSpec extends SparkSpec {

  private def freshRoot(name: String): String =
    scratchRoot("graft-lake-test", name)

  test("a log lineage with no schema fails loudly, naming the root and snapshot") {
    val root = freshRoot("no-schema")
    Files.createDirectories(Paths.get(root, "_graft_log"))
    // a hand-edited commit 0: every well-formed create carries a schema
    Files.writeString(Paths.get(root, "_graft_log", "0000000000.json"),
      """{"snapshotId":0,"timestampMs":1,"operation":"create","adds":[],""" +
        """"removes":[],"properties":{},"schemaJson":null,"statsVersion":2}""")
    val e = intercept[IllegalStateException](GraftTable.tableSchema(root))
    assert(e.getMessage.contains(root) && e.getMessage.contains("snapshot 0"), e.getMessage)
  }

  test("create persists schema + table properties; double create fails") {
    val root = freshRoot("create")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.target-file-size-bytes" -> "134217728", "gc.enabled" -> "true"))
    val st = GraftTable.state(root)
    assert(st.properties("gc.enabled") == "true")
    assert(st.snapshotId == 0L && st.files.isEmpty)
    assertThrows[IllegalArgumentException] {
      GraftTable.create(spark, root, n.schema)
    }
  }

  test("append commits a snapshot per call and reads back exactly") {
    val root = freshRoot("append")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n.filter(col("n_nationkey") < 10))
    GraftTable.append(spark, root, n.filter(col("n_nationkey") >= 10))
    assert(GraftTable.latestSnapshotId(root) == 2L)
    assert(GraftTable.read(spark, root).count() == n.count())
    // row-level equality, not just counts
    assert(GraftTable.read(spark, root).except(n).isEmpty
      && n.except(GraftTable.read(spark, root)).isEmpty)
  }

  test("overwriteWhere deletes matching rows copy-on-write") {
    val root = freshRoot("ow")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n)
    GraftTable.overwriteWhere(spark, root, col("n_regionkey") === 0)
    val left = GraftTable.read(spark, root)
    assert(left.filter(col("n_regionkey") === 0).count() == 0)
    assert(left.count() == n.filter(col("n_regionkey") =!= 0).count())
    // previous snapshot still readable (time travel)
    assert(GraftTable.read(spark, root, Some(1L)).count() == n.count())
  }

  test("commit protocol detects a lost put-if-absent race") {
    val root = freshRoot("race")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    // commit 0 exists (create); a racing writer targeting it must fail
    val logDir = Paths.get(root, "_graft_log")
    assertThrows[IllegalStateException] {
      GraftTable.writeAtomic(logDir.resolve("0000000000.json"), "{}")
    }
    // the loser's temp file is cleaned up and the log still replays
    val listing = Files.list(logDir)
    try assert(!listing.iterator().asScala
      .exists(_.getFileName.toString.startsWith(".tmp")))
    finally listing.close()
    assert(GraftTable.read(spark, root).count() == 0L)
  }

  test("racing concurrent appends never lose rows or corrupt the log") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = freshRoot("race2")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    implicit val ec: ExecutionContext = ExecutionContext.global
    // two writers race the same next snapshot id; each retries once on
    // conflict (the caller-side protocol the conditional-put implies)
    def appendWithRetry(rows: Int): Long =
      try GraftTable.append(spark, root, n.limit(rows))
      catch { case _: IllegalStateException =>
        GraftTable.append(spark, root, n.limit(rows))
      }
    val a = Future(appendWithRetry(5))
    val b = Future(appendWithRetry(7))
    Await.result(Future.sequence(Seq(a, b)), 120.seconds)
    // both writers' rows are present exactly once, whatever the
    // interleaving; log replays cleanly; ids are distinct
    assert(GraftTable.read(spark, root).count() == 12L)
    val snaps = GraftTable.snapshotsTable(spark, root).collect()
    assert(snaps.map(_.getLong(0)).distinct.length == snaps.length)
    // no stage dirs or temp files left behind
    val leftovers = Files.list(Paths.get(root))
    try assert(!leftovers.iterator().asScala
      .exists(_.getFileName.toString.startsWith(".stage-")))
    finally leftovers.close()
  }

  test("crash leftovers (.tmp log files, orphan data) never corrupt reads") {
    val root = freshRoot("crash")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n.limit(5))
    // a writer that died mid-commit leaves a temp log file and a data
    // file no commit references — readers must see neither
    Files.writeString(Paths.get(root, "_graft_log", ".tmp-dead-writer"), "{garbage")
    val orphan = Paths.get(root, "data", "0000000099-00000-dead.parquet")
    Files.writeString(orphan, "not parquet")
    assert(GraftTable.read(spark, root).count() == 5L)
    assert(GraftTable.latestSnapshotId(root) == 1L)
    // the tracked file set excludes the planted orphan even though it
    // sits in data/ (compare against the directory, not state itself)
    val onDisk = Files.list(Paths.get(root, "data"))
    val diskCount = try onDisk.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) finally onDisk.close()
    assert(GraftTable.state(root).files.size == diskCount - 1)
    // and the orphan is exactly what remove_orphan_files reports
    val dry = GraftTable.removeOrphanFiles(root, System.currentTimeMillis() + 1000, dryRun = true)
    assert(dry == Seq(s"data/${orphan.getFileName}"))
  }

  test("history table records parent chain and operations") {
    val root = freshRoot("hist")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n)
    GraftTable.rollbackToSnapshot(root, 0L)
    val hist = GraftTable.historyTable(spark, root).orderBy("snapshot_id").collect()
    assert(hist.map(_.getString(2)).toSeq == Seq("create", "append", "rollback"))
    assert(hist.map(_.getLong(1)).toSeq == Seq(-1L, 0L, 1L))
    assert(GraftTable.read(spark, root).count() == 0L)
  }

  test("stats pruning skips files whose min/max cannot match") {
    val root = freshRoot("prune")
    val o = Tables.orders(spark, sf)
    GraftTable.create(spark, root, o.schema)
    // range-partitioned appends → disjoint o_orderkey stats per file
    val keys = o.select(col("o_orderkey")).orderBy("o_orderkey")
      .collect().map(_.getLong(0))
    val mid = keys(keys.length / 2)
    GraftTable.append(spark, root, o.filter(col("o_orderkey") <= mid).coalesce(1))
    GraftTable.append(spark, root, o.filter(col("o_orderkey") > mid).coalesce(1))
    val (df, total, live) = GraftTable.scan(spark, root,
      Seq(GraftTable.Gt("o_orderkey", mid.toString)))
    assert(total == 2 && live == 1, s"expected 1 of 2 files to survive, got $live of $total")
    assert(df.count() == o.filter(col("o_orderkey") > mid).count())
    // the residual predicate must also reach the parquet scan
    val p = plan(df)
    assert(p.linesIterator.filter(_.contains("PushedFilters")).mkString.contains("o_orderkey"))
  }

  test("pruned overwriteWhere rewrites only files whose stats may match") {
    val root = freshRoot("ow-prune")
    val o = Tables.orders(spark, sf)
    GraftTable.create(spark, root, o.schema)
    val keys = o.select(col("o_orderkey")).orderBy("o_orderkey").collect().map(_.getLong(0))
    val mid = keys(keys.length / 2)
    GraftTable.append(spark, root, o.filter(col("o_orderkey") <= mid).coalesce(1))
    GraftTable.append(spark, root, o.filter(col("o_orderkey") > mid).coalesce(1))
    val hi = keys(keys.length - 3)
    GraftTable.overwriteWhere(spark, root, col("o_orderkey") > lit(hi),
      prunePreds = Seq(GraftTable.Gt("o_orderkey", hi.toString)))
    // the low-range file must be carried over by reference, not rewritten
    val snaps = GraftTable.snapshotsTable(spark, root)
      .filter(col("operation") === "overwrite").head()
    assert(snaps.getAs[Long]("removed_files") == 1L,
      "only the high-range file should be rewritten")
    assert(GraftTable.read(spark, root).count() == keys.length - 2L)
  }

  test("multi-row-group string bounds merge in UTF-8 order (numeric-looking values)") {
    import spark.implicits._
    val root = freshRoot("rg-merge")
    // first half "10", second half "9": homogeneous row groups whose
    // bounds disagree between numeric and UTF-8 order
    val df = (Seq.fill(5000)("10") ++ Seq.fill(5000)("9")).toDF("s").coalesce(1)
    GraftTable.create(spark, root, df.schema)
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 1024)   // force many tiny row groups
    try GraftTable.append(spark, root, df)
    finally if (prev == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", prev)
    val st = GraftTable.state(root).files.head.stats("s")
    assert(st.min.contains("10") && st.max.contains("9"),
      s"string bounds must merge in UTF-8 order, got $st")
    // and pruning on those bounds keeps the matching rows
    val (scanned, _, live) = GraftTable.scan(spark, root, Seq(GraftTable.Lt("s", "2")))
    assert(live == 1 && scanned.count() == 5000L, "file with utf8-smaller strings must survive")
  }

  test("readWhere auto-extracts prune predicates from an arbitrary Column") {
    val root = freshRoot("read-where")
    val o = Tables.orders(spark, sf)
    GraftTable.create(spark, root, o.schema)
    val keys = o.select(col("o_orderkey")).orderBy("o_orderkey").collect().map(_.getLong(0))
    val mid = keys(keys.length / 2)
    GraftTable.append(spark, root, o.filter(col("o_orderkey") <= mid).coalesce(1))
    GraftTable.append(spark, root, o.filter(col("o_orderkey") > mid).coalesce(1))
    // >= boundary: rows AT mid live in the low file — Ge must keep it
    val ge = GraftTable.readWhere(spark, root, col("o_orderkey") >= mid)
    assert(ge.count() == o.filter(col("o_orderkey") >= mid).count())
    // composite condition: conjunct prunes, the OR part only filters
    val mixed = GraftTable.readWhere(spark, root,
      col("o_orderkey") > mid && (col("o_orderstatus") === "O" || col("o_totalprice") > 0))
    assert(mixed.count() ==
      o.filter(col("o_orderkey") > mid &&
        (col("o_orderstatus") === "O" || col("o_totalprice") > 0)).count())
    // auto-pruned delete: only the high-range file is rewritten
    GraftTable.overwriteWhere(spark, root, col("o_orderkey") > keys(keys.length - 3))
    val ow = GraftTable.snapshotsTable(spark, root)
      .filter(col("operation") === "overwrite").head()
    assert(ow.getAs[Long]("removed_files") == 1L,
      "auto-extracted preds should rewrite only the matching file")
    assert(GraftTable.read(spark, root).count() == keys.length - 2L)
  }

  test("footer stats cover timestamps (as micros) and strings; pruning works on both") {
    val root = freshRoot("ts-stats")
    val o = Tables.orders(spark, sf)
    GraftTable.create(spark, root, o.schema)
    val dates = o.select(col("o_orderdate")).orderBy("o_orderdate").collect()
      .map(_.getAs[java.time.LocalDateTime](0))
    val mid = dates(dates.length / 2)
    GraftTable.append(spark, root, o.filter(col("o_orderdate") <= lit(mid)).coalesce(1))
    GraftTable.append(spark, root, o.filter(col("o_orderdate") > lit(mid)).coalesce(1))
    val midMicros = {
      val i = mid.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val (df, total, live) = GraftTable.scan(spark, root,
      Seq(GraftTable.Gt("o_orderdate", midMicros.toString)))
    assert(total == 2 && live == 1, s"timestamp prune: $live of $total survived")
    assert(df.count() == o.filter(col("o_orderdate") > lit(mid)).count())
    // string stats: status partition prune
    val (df2, t2, l2) = GraftTable.scan(spark, root, Nil)
    assert(t2 == 2 && l2 == 2 && df2.count() == o.count())
    val st = GraftTable.state(root).files.head.stats
    assert(st.contains("o_orderstatus") && st("o_orderstatus").min.nonEmpty,
      "string columns must carry footer min/max")
  }

  test("rewrite_manifests checkpoints the log; state is unchanged") {
    val root = freshRoot("manifest")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    (0 until 3).foreach(_ => GraftTable.append(spark, root, n.limit(5)))
    val before = GraftTable.state(root)
    GraftTable.rewriteManifests(root)
    assert(Files.exists(Paths.get(root, "_graft_log", s"checkpoint-${before.snapshotId}.json")))
    val after = GraftTable.state(root)
    assert(after.files.map(_.path) == before.files.map(_.path))
  }

  test("expire_snapshots(retain_last) drops old commits; old reads fail") {
    val root = freshRoot("expire")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    (0 until 4).foreach(_ => GraftTable.append(spark, root, n.limit(3)))
    GraftTable.expireSnapshots(root, retainLast = 2)
    assert(GraftTable.read(spark, root).count() == 12L)   // latest unchanged
    assert(GraftTable.read(spark, root, Some(3L)).count() == 9L)  // retained
    assertThrows[IllegalArgumentException] {
      GraftTable.read(spark, root, Some(1L))              // expired
    }
  }

  test("add_column evolves the schema without rewriting data") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val root = freshRoot("evolve")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n.limit(10))
    val filesBefore = GraftTable.state(root).files.map(_.path)
    GraftTable.addColumn(root, StructField("note", StringType, nullable = true))
    // old rows surface the new column as null; data files untouched
    val evolved = GraftTable.read(spark, root)
    assert(evolved.schema.fieldNames.contains("note"))
    assert(evolved.filter(col("note").isNull).count() == 10L)
    assert(GraftTable.state(root).files.map(_.path) == filesBefore)
    // new appends carry the column; mixed files read coherently
    GraftTable.append(spark, root,
      n.limit(2).withColumn("note", lit("new")))
    val all = GraftTable.read(spark, root)
    assert(all.count() == 12L && all.filter(col("note") === "new").count() == 2L)
    // time travel to before the evolution sees the old schema
    assert(!GraftTable.read(spark, root, Some(1L)).schema.fieldNames.contains("note"))
    // duplicate / non-nullable adds are rejected
    assertThrows[IllegalArgumentException] {
      GraftTable.addColumn(root, StructField("note", StringType))
    }
    assertThrows[IllegalArgumentException] {
      GraftTable.addColumn(root, StructField("x", StringType, nullable = false))
    }
  }

  test("expire by timestamp, time travel by timestamp, and describe diagnostics") {
    val root = freshRoot("ts-ops")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n.limit(5))
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    GraftTable.append(spark, root, n.limit(5))
    // time travel by timestamp: at `mid` only the first append existed
    assert(GraftTable.readAsOfTime(spark, root, mid).count() == 5L)
    assert(GraftTable.readAsOfTime(spark, root, System.currentTimeMillis()).count() == 10L)
    // expire everything older than mid: snapshot 1 goes, latest stays
    GraftTable.expireSnapshotsOlderThan(root, mid)
    assert(GraftTable.read(spark, root).count() == 10L)
    assertThrows[IllegalArgumentException] {
      GraftTable.read(spark, root, Some(0L))
    }
    // describe: schema fields + diagnostics in one key/value table
    GraftTable.setProperties(root, Map("gc.enabled" -> "true"))
    val d = GraftTable.describeTable(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("col: n_name") == "string")
    assert(d("prop: gc.enabled") == "true")
    assert(d("total_records") == "10")
    assert(d("files").toInt >= 2)
  }

  test("remove_orphan_files deletes unreferenced data past the horizon; dry run doesn't") {
    val root = freshRoot("orphan")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n)
    val orphan = Paths.get(root, "data", "9999999999-00000-dead.parquet")
    Files.writeString(orphan, "not really parquet")
    val horizon = System.currentTimeMillis() + 1000
    val dry = GraftTable.removeOrphanFiles(root, horizon, dryRun = true)
    assert(dry == Seq(s"data/${orphan.getFileName}") && Files.exists(orphan))
    val wet = GraftTable.removeOrphanFiles(root, horizon)
    assert(wet == dry && !Files.exists(orphan))
    assert(GraftTable.read(spark, root).count() == n.count(),
      "live data must survive orphan removal")
  }

  /** Runs `body` and counts the SQL executions that read or wrote
    * parquet under `root`. Listener delivery is asynchronous but
    * ordered, so a marker query run afterwards flushes every earlier
    * event. */
  private def sqlExecutionsUnder(root: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    def under(p: org.apache.hadoop.fs.Path) = p.toUri.getPath.startsWith(root + "/")
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val marker = s"flush-${java.util.UUID.randomUUID()}"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.logical.exists {
          case w: InsertIntoHadoopFsRelationCommand => under(w.outputPath)
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.exists(under)
            case _ => false
          }
          case _ => false
        }) runs.incrementAndGet()
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
    runs.get
  }

  test("a delta checkpoint counts its rows off the staged footers: the write is its one " +
      "SQL execution") {
    import spark.implicits._
    val root = freshRoot("ckpt-footer-count")
    val df0 = (1L to 60L).map(i => (i, i % 4, s"r$i")).toDF("id", "grp", "v")
    GraftTable.create(spark, root, df0.schema,
      Map("write.delete.mode" -> "merge-on-read",
        "graft.planning.distributed-threshold" -> "1"))
    GraftTable.append(spark, root, df0.repartition(3))
    GraftTable.rewriteManifests(root)            // first checkpoint: legacy (no prev)
    GraftTable.deleteWhere(spark, root, col("grp") === 0)
    GraftTable.append(spark, root, Seq((100L, 9L, "x")).toDF("id", "grp", "v").coalesce(1))
    val live = GraftTable.state(root).files.size
    var t = -1L
    val runs = sqlExecutionsUnder(root) { t = GraftTable.rewriteManifests(root) }
    assert(Files.exists(Paths.get(root, "_graft_log", s"ckptfiles-$t.parquet")),
      "above the threshold the checkpoint is the distributed delta build")
    assert(runs == 1, s"the checkpoint write is its only SQL execution, saw $runs")
    val meta = Files.readString(Paths.get(root, "_graft_log", s"ckptmeta-$t.json"))
    val count = "\"graft\\.ckpt\\.file-count\"\\s*:\\s*\"(\\d+)\"".r
      .findFirstMatchIn(meta).map(_.group(1).toInt)
    assert(count.contains(live), s"file count $count vs $live live files")
  }

  test("distributed delta checkpoints are parquet-authoritative and replay without JSON") {
    import spark.implicits._
    val root = freshRoot("ckpt-delta")
    val df0 = (1L to 40L).map(i => (i, i % 4, s"r$i")).toDF("id", "grp", "v")
    GraftTable.create(spark, root, df0.schema,
      Map("write.delete.mode" -> "merge-on-read",
        "graft.planning.distributed-threshold" -> "1"))
    GraftTable.append(spark, root, df0)
    GraftTable.rewriteManifests(root)            // first checkpoint: legacy (no prev)
    val ck1 = GraftTable.latestSnapshotId(root)
    assert(Files.exists(Paths.get(root, "_graft_log", s"checkpoint-$ck1.json")))
    // row-changing tail: MoR position + equality deletes, a re-append —
    // content=1/2 entries and eqcols must survive the parquet round trip
    GraftTable.deleteWhere(spark, root, col("grp") === 0)
    GraftTable.deleteEqualityMoR(spark, root, Seq(7L, 9L).toDF("id"))
    GraftTable.append(spark, root, Seq((100L, 9L, "x"), (101L, 9L, "y")).toDF("id", "grp", "v"))
    val expected = GraftTable.read(spark, root).as[(Long, Long, String)].collect().sorted
    def norm(fs: Seq[GraftTable.FileEntry]) =
      fs.map(f => (f.path, f.sizeBytes, f.records, f.stats, f.partitionValues,
        f.content.getOrElse(0), f.eqCols.getOrElse(Seq.empty))).sortBy(_._1)
    val filesBefore = norm(GraftTable.state(root).files)
    val t = GraftTable.rewriteManifests(root)    // delta build off ck1's parquet
    assert(!Files.exists(Paths.get(root, "_graft_log", s"checkpoint-$t.json")),
      "above the threshold the checkpoint must be parquet-only")
    assert(Files.exists(Paths.get(root, "_graft_log", s"ckptmeta-$t.json")))
    assert(Files.exists(Paths.get(root, "_graft_log", s"ckptfiles-$t.parquet")))
    // a post-checkpoint commit forces a fresh replay seeded off the parquet
    GraftTable.append(spark, root, Seq((200L, 1L, "z")).toDF("id", "grp", "v"))
    val after = GraftTable.state(root).files
    val newPaths = after.map(_.path).toSet -- filesBefore.map(_._1).toSet
    assert(newPaths.nonEmpty)
    assert(norm(after.filterNot(f => newPaths(f.path))) == filesBefore,
      "parquet-seeded replay must reproduce pre-checkpoint entries exactly, stats included")
    val expected2 = (expected :+ ((200L, 1L, "z"))).sorted.toSeq
    assert(GraftTable.read(spark, root).as[(Long, Long, String)]
      .collect().sorted.toSeq == expected2)
    // describe's rollups run as a Spark agg over checkpoint survivors
    // + the tail — they must equal the driver state's numbers exactly
    val d = GraftTable.describeTable(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val snapNow = GraftTable.state(root)
    assert(d("files").toInt == snapNow.files.count(_.isData))
    assert(d("delete_files").toInt == snapNow.files.count(_.isDelete))
    assert(d("delete_records").toLong ==
      snapNow.files.filter(_.isDelete).map(_.records).sum)
    assert(d("total_records").toLong ==
      snapNow.files.filter(_.isData).map(_.records).sum)
    assert(d("total_bytes").toLong ==
      snapNow.files.filter(_.isData).map(_.sizeBytes).sum)
    // expire past the parquet-only checkpoint: the cutoff checkpoint is
    // itself a delta build; old artifacts (ck1's parquet too) are swept
    GraftTable.expireSnapshots(root, retainLast = 1)
    assert(!Files.exists(Paths.get(root, "_graft_log", s"ckptfiles-$ck1.parquet")))
    assert(GraftTable.read(spark, root).as[(Long, Long, String)]
      .collect().sorted.toSeq == expected2)
    assertThrows[IllegalArgumentException] { GraftTable.read(spark, root, Some(ck1)) }
  }

  test("remove_orphan_files: distributed anti-join path matches the driver path") {
    // twin tables, identical content + planted orphans; one forced over
    // the planning threshold (membership runs as a Spark anti-join
    // against ckptfiles parquet), one under it (driver Set) — the sweep
    // must agree exactly
    val n = Tables.nation(spark, sf)
    val roots = Seq("1" -> freshRoot("orphan-dist"), "1000000" -> freshRoot("orphan-drv"))
      .map { case (threshold, root) =>
        GraftTable.create(spark, root, n.schema,
          Map("graft.planning.distributed-threshold" -> threshold))
        GraftTable.append(spark, root, n)
        GraftTable.deleteWhere(spark, root, col("n_regionkey") === 0)
        GraftTable.rewriteManifests(root)   // checkpoint: ckptfiles parquet
        GraftTable.append(spark, root, n.where(col("n_regionkey") === 1))
        for (i <- 0 until 3)
          Files.writeString(Paths.get(root, "data", s"999999999$i-00000-dead.parquet"),
            "not really parquet")
        root
      }
    val horizon = System.currentTimeMillis() + 1000
    val Seq(dist, drv) = roots.map(r =>
      GraftTable.removeOrphanFiles(r, horizon, dryRun = true).sorted)
    assert(dist == drv, s"distributed sweep $dist != driver sweep $drv")
    assert(dist.size == 3 && dist.forall(_.contains("-dead.parquet")))
    // wet run on the distributed table: orphans go, live rows survive,
    // and files removed by the pre-checkpoint delete are NOT swept
    // (they stay referenced by retained snapshots)
    val before = GraftTable.read(spark, roots.head).count()
    GraftTable.removeOrphanFiles(roots.head, horizon)
    assert(GraftTable.read(spark, roots.head).count() == before)
    assert(GraftTable.read(spark, roots.head, Some(1L)).count() == n.count(),
      "time travel to the pre-delete snapshot must survive the sweep")
  }

  test("set_properties commits take effect; distribution-mode clusters appends for pruning") {
    val root = freshRoot("props")
    val c = Tables.customer(spark, sf)
    GraftTable.create(spark, root, c.schema)
    GraftTable.setProperties(root, Map(
      "graft.partition-columns" -> "c_nationkey",
      "graft.write-partitions" -> "4",
      "write.distribution-mode" -> "range",
      "write.target-file-size-bytes" -> "1048576",
      "gc.enabled" -> "true"))
    assert(GraftTable.state(root).properties("gc.enabled") == "true")
    GraftTable.append(spark, root, c)
    // range distribution on c_nationkey → an Eq predicate prunes to a
    // strict subset of files (partition-pruning behavior via stats)
    val (df, total, live) = GraftTable.scan(spark, root,
      Seq(GraftTable.Eq("c_nationkey", "3")))
    assert(total > 1, "range write should produce multiple files")
    assert(live < total, s"expected pruning, got $live of $total")
    assert(df.count() == c.filter(col("c_nationkey") === 3).count())
    // compaction with a target that yields 2 bins must preserve the
    // range clustering: stat-ordered binning keeps an Eq predicate
    // pruning to a strict subset even after the rewrite
    val sizes = GraftTable.state(root).files.map(_.sizeBytes)
    GraftTable.rewriteDataFiles(spark, root,
      targetFileSizeBytes = sizes.sum / 2 + 1)
    assert(GraftTable.state(root).operation == "rewrite_data_files")
    val (df2, total2, live2) = GraftTable.scan(spark, root,
      Seq(GraftTable.Eq("c_nationkey", "3")))
    assert(total2 >= 2, s"expected 2+ compacted files, got $total2")
    assert(live2 < total2, "compaction must preserve pruning power")
    assert(df2.count() == c.filter(col("c_nationkey") === 3).count())
  }

  test("streaming read: appends to the lake arrive incrementally, exactly once") {
    import spark.implicits._
    val root = freshRoot("stream-read")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n.limit(5))
    val ckpt = Files.createTempDirectory("graft-sread-ckpt")
    val q = GraftTable.readStreamAppendOnly(spark, root)
      .writeStream.format("memory").queryName("lake_stream")
      .option("checkpointLocation", ckpt.resolve("c").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("lake_stream").count() == 5L)
    GraftTable.append(spark, root, n.limit(8))   // 8 more rows, new files
    q.processAllAvailable()
    q.stop()
    assert(spark.table("lake_stream").count() == 13L,
      "second append must stream incrementally without re-delivering the first")
  }

  test("idempotent append: a retried micro-batch version is a no-op") {
    import spark.implicits._
    val root = freshRoot("txn")
    val df = Seq(1L, 2L, 3L).toDF("v")
    GraftTable.create(spark, root, df.schema)
    GraftTable.appendIdempotent(spark, root, df, "streamA", version = 0L)
    // the retry of version 0 (crash between commit and checkpoint)
    GraftTable.appendIdempotent(spark, root, df, "streamA", version = 0L)
    assert(GraftTable.read(spark, root).count() == 3L, "retry must not duplicate")
    // the next version appends; an unrelated app has its own sequence
    GraftTable.appendIdempotent(spark, root, df, "streamA", version = 1L)
    GraftTable.appendIdempotent(spark, root, df, "streamB", version = 0L)
    assert(GraftTable.read(spark, root).count() == 9L)
    assert(GraftTable.state(root).properties("graft.txn.streamA") == "1")
  }

  test("streaming ingest: foreachBatch appends commit one snapshot per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = freshRoot("stream-ingest")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val schema = input.toDS().toDF("v").schema
    GraftTable.create(spark, root, schema)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt")
    val q = input.toDS().toDF("v").writeStream
      .option("checkpointLocation", ckpt.resolve("c").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        GraftTable.append(batch.sparkSession, root, batch): Unit
      }
      .start()
    input.addData(1L, 2L, 3L)
    q.processAllAvailable()
    input.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    assert(GraftTable.latestSnapshotId(root) == 2L, "one snapshot per micro-batch")
    assert(GraftTable.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(GraftTable.read(spark, root, Some(1L)).count() == 3L)
  }

  test("compaction preserves rows and reduces file count; diagnostics reflect it") {
    val root = freshRoot("compact")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    (0 until 4).foreach(i =>
      GraftTable.append(spark, root, n.filter(col("n_nationkey") % 4 === i)))
    val before = GraftTable.filesTable(spark, root)
    val nBefore = before.count()
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = 32L * 1024 * 1024)
    val after = GraftTable.filesTable(spark, root)
    assert(after.count() < nBefore)
    assert(after.agg(sum("record_count")).head().getLong(0) == n.count())
    // expired files are removable as orphans only after expiry
    GraftTable.expireSnapshots(root, retainLast = 1)
    val removed = GraftTable.removeOrphanFiles(root, System.currentTimeMillis() + 1000)
    assert(removed.size == nBefore.toInt)
  }

  test("append validates schema; graft.merge-schema auto-evolves new and widened columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot("mergeschema")
    val df0 = Seq((1L, "a", 7)).toDF("id", "v", "cnt")
    GraftTable.create(spark, root, df0.schema)
    GraftTable.append(spark, root, df0)

    // an int frame into the bigint column: the reader promotes — fine
    GraftTable.append(spark, root,
      Seq((2, "b", 8)).toDF("id", "v", "cnt"))
    assert(GraftTable.read(spark, root).count() == 2)

    // unknown column without the property: loud
    val e1 = intercept[IllegalArgumentException] {
      GraftTable.append(spark, root, Seq((3L, "c", 9, 1.5)).toDF("id", "v", "cnt", "extra"))
    }
    assert(e1.getMessage.contains("extra") && e1.getMessage.contains("merge-schema"))
    // un-widenable type mismatch: loud regardless
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.append(spark, root, Seq(("x", "c", 9)).toDF("id", "v", "cnt"))
    }
    assert(e2.getMessage.contains("id"))

    // opt in: new columns ADD (nullable), outgrown columns widen
    GraftTable.setProperties(root, Map("graft.merge-schema" -> "true"))
    GraftTable.append(spark, root,
      Seq((3L, "c", 9L, 1.5)).toDF("id", "v", "cnt", "extra"))  // cnt int->long + extra
    val rows = GraftTable.read(spark, root)
      .select("id", "v", "cnt", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.toString).getOrElse("null"))).toSeq.sorted
    assert(rows == Seq((1L, "a", 7L, "null"), (2L, "b", 8L, "null"),
      (3L, "c", 9L, "1.5")), s"got $rows")
    // the evolution rode in as its own metadata commits before the data
    val ops = GraftTable.snapshotsTable(spark, root)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.count(_ == "widen_column") == 1 && ops.count(_ == "add_column") == 1)

    // staged WAP appends never evolve, even with the property set
    val e3 = intercept[IllegalArgumentException] {
      GraftTable.appendStaged(spark, root,
        Seq((4L, "d", 1L, 2.5, "new")).toDF("id", "v", "cnt", "extra", "tag"), "w1")
    }
    assert(e3.getMessage.contains("staged"))
  }
}
