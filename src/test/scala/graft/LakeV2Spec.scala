package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.lake.GraftTable
import graft.lake.GraftTable.{Eq, Ge, Gt, Le, Lt}
import graft.sources.Tables

/** Round-2 lake surface: declared partition specs with exact
  * partition-value pruning, merge-on-read deletes + their compaction,
  * MERGE/UPDATE row-level ops, the `.partitions`/`.manifests`/`.refs`
  * metadata views, and distributed (executor-side) scan planning. */
class LakeV2Spec extends SparkSpec {

  private def freshRoot(name: String): String =
    scratchRoot("graft-lakev2-test", name)

  // ── partition spec ──────────────────────────────────────────────────

  test("identity partition spec prunes scans to matching partition files only") {
    val root = freshRoot("part-identity")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map(GraftTable.specProp -> "identity(n_regionkey)"))
    GraftTable.append(spark, root, n)
    // each region's rows land in region-exclusive files
    val files = GraftTable.filesTable(spark, root).collect()
    assert(files.forall(_.getString(4).startsWith("n_regionkey=")))
    assert(files.map(_.getString(4)).distinct.length == 5)
    val (df, total, live) = GraftTable.scan(spark, root, Seq(Eq("n_regionkey", "2")))
    assert(live < total, s"partition pruning must skip files (live=$live total=$total)")
    assert(df.count() == n.filter(col("n_regionkey") === 2).count())
    // range preds prune on identity partitions too
    val (_, _, liveRange) = GraftTable.scan(spark, root, Seq(Ge("n_regionkey", "3")))
    assert(liveRange < total)
  }

  test("days/bucket/truncate transforms write tuples and prune equality scans") {
    val root = freshRoot("part-transforms")
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    GraftTable.create(spark, root, o.schema,
      Map(GraftTable.specProp -> "days(o_orderdate),bucket(4,o_custkey)"))
    GraftTable.append(spark, root, o.limit(500))
    val parts = GraftTable.partitionsTable(spark, root).collect()
    assert(parts.nonEmpty && parts.forall(_.getString(0).contains("o_orderdate_day=")))
    assert(parts.forall(_.getString(0).contains("o_custkey_bucket_4=")))
    // pick one real custkey; a bucket-eq scan must skip other buckets
    val key = o.limit(500).select("o_custkey").collect().head.getLong(0)
    val (df, total, live) = GraftTable.scan(spark, root, Seq(Eq("o_custkey", key.toString)))
    assert(live < total, s"bucket pruning must skip files (live=$live total=$total)")
    assert(df.count() == o.limit(500).filter(col("o_custkey") === key).count())
    // bucket pruning covers every integral width: SMALLINT hashes the
    // same CAST-AS-STRING text the write path used
    val rs = freshRoot("part-bucket-short")
    import spark.implicits._
    val sdf = (0 until 64).map(i => (i.toLong, (i % 40).toShort)).toDF("id", "k")
    GraftTable.create(spark, rs, sdf.schema, Map(GraftTable.specProp -> "bucket(4,k)"))
    GraftTable.append(spark, rs, sdf)
    val (sdfOut, sTotal, sLive) = GraftTable.scan(spark, rs, Seq(Eq("k", "5")))
    assert(sLive < sTotal, s"short bucket pruning must skip files (live=$sLive total=$sTotal)")
    assert(sdfOut.count() == 2)   // k = 5 ⇐ i ∈ {5, 45}
  }

  test("months/years/hours transforms write tuples and range-prune scans") {
    import spark.implicits._
    // timestamps spread over 4 months × 24 hours of one day each
    val tdf = (0 until 96).map { i =>
      (i.toLong, java.time.LocalDateTime.of(2024, i % 4 + 1, 10, i % 24, 0).toString)
    }.toDF("id", "s").select(col("id"), to_timestamp(col("s")).as("ts"))
    def micros(ldt: java.time.LocalDateTime): String =
      (ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L).toString

    val rm = freshRoot("part-months")
    GraftTable.create(spark, rm, tdf.schema, Map(GraftTable.specProp -> "months(ts)"))
    GraftTable.append(spark, rm, tdf)
    val mparts = GraftTable.partitionsTable(spark, rm).collect()
    assert(mparts.nonEmpty && mparts.forall(_.getString(0).contains("ts_month=")))
    val cut = micros(java.time.LocalDateTime.of(2024, 3, 1, 0, 0))
    val (mdf, mTotal, mLive) = GraftTable.scan(spark, rm, Seq(Ge("ts", cut)))
    assert(mLive < mTotal, s"months pruning must skip files (live=$mLive total=$mTotal)")
    assert(mdf.count() == tdf.filter(col("ts") >= lit("2024-03-01").cast("timestamp")).count())

    val rh = freshRoot("part-hours")
    GraftTable.create(spark, rh, tdf.schema, Map(GraftTable.specProp -> "hours(ts)"))
    GraftTable.append(spark, rh, tdf)
    val hparts = GraftTable.partitionsTable(spark, rh).collect()
    assert(hparts.nonEmpty && hparts.forall(_.getString(0).contains("ts_hour=")))
    // equality inside one hour bucket prunes to that bucket's files
    val at = micros(java.time.LocalDateTime.of(2024, 2, 10, 5, 0))
    val (hdf, hTotal, hLive) = GraftTable.scan(spark, rh, Seq(Eq("ts", at)))
    assert(hLive < hTotal, s"hours pruning must skip files (live=$hLive total=$hTotal)")
    assert(hdf.count() ==
      tdf.filter(col("ts") === lit("2024-02-10 05:00:00").cast("timestamp")).count())

    // years over the NTZ-timestamp order-date column
    val ry = freshRoot("part-years")
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate")).limit(400)
    GraftTable.create(spark, ry, o.schema, Map(GraftTable.specProp -> "years(o_orderdate)"))
    GraftTable.append(spark, ry, o)
    val yparts = GraftTable.partitionsTable(spark, ry).collect()
    assert(yparts.nonEmpty && yparts.forall(_.getString(0).contains("o_orderdate_year=")))
    val yCut = micros(java.time.LocalDateTime.of(1996, 1, 1, 0, 0))
    val (ydf, yTotal, yLive) = GraftTable.scan(spark, ry, Seq(Ge("o_orderdate", yCut)))
    assert(yLive < yTotal, s"years pruning must skip files (live=$yLive total=$yTotal)")
    assert(ydf.count() ==
      o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")).count())
  }

  test("decimal identity partitions prune numerically, not in text order") {
    // '125.00' < '9.00' under STRING comparison — a text-ordered prune
    // would silently drop the 125.00 partition from `price > 9` reads
    // and leave its rows un-deleted on DML (round-7 ADVICE, high)
    val root = freshRoot("part-decimal")
    import spark.implicits._
    val df = Seq((1L, "5.00"), (2L, "9.00"), (3L, "125.00"), (4L, "30.50"))
      .toDF("id", "p").select(col("id"), col("p").cast("decimal(18,2)").as("price"))
    GraftTable.create(spark, root, df.schema,
      Map(GraftTable.specProp -> "identity(price)",
        "graft.planning.distributed-threshold" -> "2"))
    GraftTable.append(spark, root, df)
    // driver planner: range preds across the text-order inversion
    val (gt, total, live) = GraftTable.scan(spark, root, Seq(Gt("price", "9")))
    assert(live < total, s"decimal pruning must still skip files (live=$live total=$total)")
    assert(gt.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    val (le, _, _) = GraftTable.scan(spark, root, Seq(Le("price", "9.00")))
    assert(le.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the Column front door extracts the same preds ('9' vs '9.00' text)
    val rw = GraftTable.readWhere(spark, root, col("price") > 9)
    assert(rw.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    assert(GraftTable.readWhere(spark, root, col("price") === lit("30.50").cast("decimal(18,2)"))
      .select("id").as[Long].collect().toSeq == Seq(4L))
    // distributed planner (predCond) must agree with the driver exactly
    GraftTable.rewriteManifests(root)
    GraftTable.append(spark, root,
      Seq((5L, "200.00")).toDF("id", "p")
        .select(col("id"), col("p").cast("decimal(18,2)").as("price")))
    val plan = GraftTable.planScan(spark, root, Seq(Gt("price", "9")))
    assert(plan.distributed, "decimal prune must stay on the distributed path")
    val (ddf, dtotal, dlive) = GraftTable.scan(spark, root, Seq(Gt("price", "9")))
    assert(plan.totalFiles == dtotal.toLong && plan.liveFiles == dlive.toLong,
      s"planner disagreement (dist=${plan.liveFiles} driver=$dlive)")
    assert(plan.df.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
    // DML: CoW delete must rewrite the 125.00/200.00 partitions, not
    // string-prune them out of the rewrite set
    GraftTable.deleteWhere(spark, root, col("price") > 100)
    assert(GraftTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L))
  }

  // ── merge-on-read deletes ───────────────────────────────────────────

  test("a broad MoR delete shards its position-delete write into multiple files") {
    // round-7 verdict #1: matches.coalesce(1) funneled every
    // (file_path, pos) row of a broad delete through one task
    val root = freshRoot("mor-sharded")
    val df = spark.range(0, 2000).select(col("id"), (col("id") % 10).as("grp"))
    GraftTable.create(spark, root, df.schema,
      Map("write.delete.mode" -> "merge-on-read",
        "graft.delete.files-per-shard" -> "1",
        "graft.write-partitions" -> "8"))
    // pin the data-file count: an unclustered table ignores
    // write-partitions by design (nothing to cluster on), and the
    // shard write hashes UUID-named file paths into `shards` buckets —
    // with only range's natural 4 slices, all 4 collapse into one
    // bucket with p = 4^-3 per run (a 1.6% flake, hit in r19's close).
    // 8 files → p = 8^-7: effectively deterministic.
    GraftTable.append(spark, root, df.repartition(8))
    assert(GraftTable.state(root).files.count(_.isData) == 8,
      "precondition: the broad delete must touch many data files")
    GraftTable.deleteWhere(spark, root, col("id") % 2 === 0)
    val delFiles = GraftTable.filesTable(spark, root).filter(col("content") === 1)
    assert(delFiles.count() > 1,
      s"broad delete must shard the delete-file write (got ${delFiles.count()})")
    val live = GraftTable.read(spark, root)
    assert(live.count() == 1000 && live.filter(col("id") % 2 === 0).count() == 0)
    // compaction folds every shard back in
    GraftTable.rewritePositionDeletes(spark, root)
    assert(GraftTable.filesTable(spark, root).filter(col("content") === 1).count() == 0)
    assert(GraftTable.read(spark, root).count() == 1000)
  }

  test("equality-delete writes shard above the rows-per-shard threshold") {
    val root = freshRoot("eq-sharded")
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"))
    GraftTable.create(spark, root, df.schema,
      Map("graft.delete.rows-per-shard" -> "100"))
    GraftTable.append(spark, root, df)
    GraftTable.deleteEqualityMoR(spark, root, spark.range(0, 500).select(col("id")))
    val delFiles = GraftTable.filesTable(spark, root).filter(col("content") === 2)
    assert(delFiles.count() > 1,
      s"large key set must shard the eq-delete write (got ${delFiles.count()})")
    val live = GraftTable.read(spark, root)
    // shards of ONE delete commit apply as ONE anti-join, not O(shards)
    val antiJoins = live.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }.size
    assert(antiJoins == 1,
      s"sharded eq-delete files must union into one anti-join, got $antiJoins")
    assert(live.count() == 500 && live.filter(col("id") < 500).count() == 0)
    GraftTable.rewriteEqualityDeletes(spark, root)
    assert(GraftTable.filesTable(spark, root).filter(col("content") === 2).count() == 0)
    assert(GraftTable.read(spark, root).count() == 500)
  }

  test("MoR delete writes a content=1 file, reads apply it, compaction folds it in") {
    val root = freshRoot("mor")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n)
    val before = GraftTable.filesTable(spark, root).filter(col("content") === 0).count()
    GraftTable.deleteWhere(spark, root, col("n_regionkey") === 0)
    // data files untouched — only a delete file was added
    val after = GraftTable.filesTable(spark, root)
    assert(after.filter(col("content") === 0).count() == before,
      "MoR delete must not rewrite data files")
    assert(after.filter(col("content") === 1).count() == 1)
    // reads apply the position deletes
    val live = GraftTable.read(spark, root)
    assert(live.filter(col("n_regionkey") === 0).count() == 0)
    assert(live.count() == n.filter(col("n_regionkey") =!= 0).count())
    // a second MoR delete stacks
    GraftTable.deleteWhere(spark, root, col("n_regionkey") === 1)
    assert(GraftTable.read(spark, root).count() ==
      n.filter(col("n_regionkey") >= 2).count())
    // diagnostics show content=1 files; compaction returns them to 0
    val diagBefore = GraftTable.describeTable(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diagBefore("delete_files") == "2")
    GraftTable.rewritePositionDeletes(spark, root)
    val diagAfter = GraftTable.describeTable(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diagAfter("delete_files") == "0")
    val folded = GraftTable.read(spark, root)
    assert(folded.count() == n.filter(col("n_regionkey") >= 2).count())
    assert(folded.except(n.filter(col("n_regionkey") >= 2)).isEmpty)
    // time travel before the compaction still applies the deletes
    assert(GraftTable.read(spark, root, Some(2L))
      .filter(col("n_regionkey") === 0).count() == 0)
  }

  test("CoW overwrite and bin-pack compaction never resurrect MoR-deleted rows") {
    val root = freshRoot("mor-cow")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n.filter(col("n_nationkey") < 12))
    GraftTable.append(spark, root, n.filter(col("n_nationkey") >= 12))
    GraftTable.deleteWhere(spark, root, col("n_nationkey") === 3)
    // bin-pack compaction rewrites the small files: deleted row stays gone
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = 512 * 1024 * 1024)
    val after = GraftTable.read(spark, root)
    assert(after.filter(col("n_nationkey") === 3).count() == 0)
    assert(after.count() == n.count() - 1)
  }

  test("equality delete removes keyed rows from OLD files only; compaction folds it") {
    val root = freshRoot("eqdelete")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n)
    import spark.implicits._
    GraftTable.deleteEqualityMoR(spark, root, Seq(1L, 5L, 9L).toDF("n_nationkey"))
    assert(GraftTable.read(spark, root).count() == n.count() - 3)
    assert(GraftTable.read(spark, root)
      .filter(col("n_nationkey").isin(1L, 5L, 9L)).count() == 0)
    // sequence rule: re-appending key 5 AFTER the delete is NOT deleted
    GraftTable.append(spark, root, n.filter(col("n_nationkey") === 5))
    assert(GraftTable.read(spark, root).filter(col("n_nationkey") === 5).count() == 1)
    assert(GraftTable.read(spark, root).count() == n.count() - 2)
    // compaction folds the equality delete in; results unchanged
    val diag0 = GraftTable.describeTable(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diag0("delete_files") == "1")
    GraftTable.rewriteEqualityDeletes(spark, root)
    val diag1 = GraftTable.describeTable(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diag1("delete_files") == "0")
    assert(GraftTable.read(spark, root).count() == n.count() - 2)
    assert(GraftTable.read(spark, root).filter(col("n_nationkey") === 5).count() == 1)
  }

  test("position and equality deletes stack; both fold via their rewrites") {
    val root = freshRoot("mixed-deletes")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n)
    GraftTable.deleteWhere(spark, root, col("n_regionkey") === 0)          // position
    import spark.implicits._
    GraftTable.deleteEqualityMoR(spark, root, Seq(12L).toDF("n_nationkey")) // equality
    val want = n.filter(col("n_regionkey") =!= 0 && col("n_nationkey") =!= 12)
    assert(GraftTable.read(spark, root).except(want).isEmpty
      && want.except(GraftTable.read(spark, root)).isEmpty)
    GraftTable.rewritePositionDeletes(spark, root)
    GraftTable.rewriteEqualityDeletes(spark, root)
    val diag = GraftTable.describeTable(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diag("delete_files") == "0")
    assert(GraftTable.read(spark, root).except(want).isEmpty
      && want.except(GraftTable.read(spark, root)).isEmpty)
  }

  test("concurrent MoR delete and append serialize or fail loudly, never corrupt") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = freshRoot("mor-race")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n)
    val del = Future(
      try Right(GraftTable.deleteWhereMoR(spark, root, col("n_regionkey") === 0))
      catch { case e: IllegalStateException => Left(e) })
    val app = Future(
      try Right(GraftTable.append(spark, root,
        n.filter(col("n_nationkey") === 0)
          // cast to the LOADED key type: the generated nation keys
          // drift between int32/int64 generations, and the append
          // schema contract (rightly) refuses a narrowing literal
          .withColumn("n_nationkey",
            lit(900L).cast(n.schema("n_nationkey").dataType))
          // must NOT match the racing delete's predicate, or the row
          // count would depend on commit interleaving
          .withColumn("n_regionkey",
            lit(99L).cast(n.schema("n_regionkey").dataType))))
      catch { case e: IllegalStateException => Left(e) })
    val (dr, ar) = (Await.result(del, 2.minutes), Await.result(app, 2.minutes))
    // at least one side must land; a loser must fail loudly, not silently
    assert(dr.isRight || ar.isRight)
    // the log replays cleanly and every delete file on disk is
    // referenced by the current snapshot (losers cleaned their stage)
    val snap = GraftTable.state(root)
    val referenced = snap.files.filter(_.isDelete).map(_.path.split('/').last).toSet
    val onDisk = java.nio.file.Files.list(Paths.get(root, "deletes"))
    val diskNames = try onDisk.iterator().asScala.map(_.getFileName.toString).toSet
      finally onDisk.close()
    assert(diskNames.subsetOf(referenced),
      s"unreferenced delete files left behind: ${diskNames -- referenced}")
    // row-level outcome matches whichever commits landed
    val rows = GraftTable.read(spark, root)
    val base = n.count()
    val expected = (dr.isRight, ar.isRight) match {
      case (true, true) => base - n.filter(col("n_regionkey") === 0).count() + 1
      case (true, false) => base - n.filter(col("n_regionkey") === 0).count()
      case (false, true) => base + 1
      case _ => base
    }
    assert(rows.count() == expected, s"delete=$dr append=$ar")
  }

  test("snapshot clone: zero-copy, independent evolution, sequence-correct deletes, fresh row lineage") {
    import spark.implicits._
    val src = freshRoot("snap-src")
    val df0 = (0L until 60L).map(i => (i, s"v${i % 6}")).toDF("id", "v")
    GraftTable.create(spark, src, df0.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, src, df0.repartition(2))
    GraftTable.deleteWhereMoR(spark, src, col("id") < 5L)          // pos deletes
    GraftTable.deleteEqualityMoR(spark, src, Seq("v5").toDF("v"))  // eq deletes
    // a committed transaction layers its stage markers into the main
    // lineage's properties; the clone must not inherit them (a staged
    // commit 0 would drop the clone's schema and properties)
    val txn = GraftTable.beginTransaction(freshRoot("snap-txns"))
    txn.append(spark, src, Seq((101L, "txn")).toDF("id", "v"))
    txn.commit()
    val dst = freshRoot("snap-dst")
    GraftTable.snapshotTable(spark, src, dst)
    def ids(r: String): Set[Long] =
      GraftTable.read(spark, r).select("id").as[Long].collect().toSet
    val atClone = ids(src)
    assert(ids(dst) == atClone,
      "the clone must serve the source's exact live rows (MoR deletes included)")
    // zero-copy: the clone references the SAME files by name
    assert(GraftTable.state(dst).files.map(_.path).toSet ==
      GraftTable.state(src).files.map(_.path).toSet)

    // independence: a clone write and a source delete never leak across
    GraftTable.append(spark, dst, Seq((500L, "clone")).toDF("id", "v"))
    GraftTable.deleteWhereMoR(spark, src, col("id") >= 50L)
    assert(ids(dst).contains(500L) && !ids(src).contains(500L))
    assert(ids(src).intersect((50L until 60L).toSet).isEmpty)
    assert(ids(dst).intersect((50L until 60L).toSet).nonEmpty,
      "a post-clone source delete must not leak into the clone")

    // sequence rule: the clone's first id jumped past the cloned
    // prefixes, so a NEW eq-delete on the clone covers CLONED rows
    GraftTable.deleteEqualityMoR(spark, dst, Seq("v4").toDF("v"))
    assert(ids(dst).forall(i => i == 500L || i % 6 != 4),
      "a clone-side eq-delete must cover rows that arrived via the clone")

    // row lineage re-minted: every clone row has a unique non-null id
    val rid = GraftTable.readWithRowIds(spark, dst)
      .select("_row_id").as[Long].collect()
    assert(rid.length == ids(dst).size && rid.toSet.size == rid.length,
      "clone _row_id must be fresh, non-null, and unique")

    // carried properties serve through the .properties view
    assert(GraftTable.propertiesTable(spark, dst)
      .filter(col("key") === "write.delete.mode")
      .head().getString(1) == "merge-on-read")
  }

  test("write.delete.isolation-level=snapshot re-plans a raced DML; default serializable stays loud") {
    import spark.implicits._
    // deterministic contention: the FIRST delete-file placement
    // triggers a concurrent append, so the delete's planned slot is
    // guaranteed taken by the time it commits
    def contend(root: String)(body: => Unit): Unit = {
      val prev = GraftTable.placeArtifact
      @volatile var fired = false
      GraftTable.placeArtifact = (src, dst) => {
        // the hook is GLOBAL and suites run in parallel in one JVM —
        // act ONLY on this test's own table or a concurrent suite's
        // placement would consume the injection
        if (!fired && dst.toString.startsWith(root) &&
            dst.toString.contains("deletes")) {
          fired = true
          GraftTable.append(spark, root,
            Seq((999L, 9L, "late")).toDF("id", "grp", "v"))
        }
        prev(src, dst)
      }
      try body finally GraftTable.placeArtifact = prev
    }
    val df0 = (0L until 100L).map(i => (i, i % 5, s"v$i")).toDF("id", "grp", "v")

    // snapshot isolation: the losing delete re-plans against the new
    // head and lands AFTER the winner — both effects present
    val r1 = freshRoot("iso-snap")
    GraftTable.create(spark, r1, df0.schema, Map(
      "write.delete.mode" -> "merge-on-read",
      "write.delete.isolation-level" -> "snapshot"))
    GraftTable.append(spark, r1, df0)
    contend(r1) {
      GraftTable.deleteWhereMoR(spark, r1, col("id") < 10L)
    }
    assert(GraftTable.read(spark, r1).count() == 91L,
      "both the racing append and the re-planned delete must land")
    val ops = GraftTable.snapshotsTable(spark, r1)
      .orderBy(col("snapshot_id")).select("operation")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "append", "delete"),
      s"the delete must land AFTER the race winner: $ops")

    // default (serializable): the same race fails loud — the winner
    // may have changed which rows the statement affects
    val r2 = freshRoot("iso-ser")
    GraftTable.create(spark, r2, df0.schema, Map(
      "write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, r2, df0)
    contend(r2) {
      intercept[IllegalStateException] {
        GraftTable.deleteWhereMoR(spark, r2, col("id") < 10L)
      }
    }
    assert(GraftTable.read(spark, r2).count() == 101L,
      "the failed delete must be a non-event; the append survives")
    // the caller retries explicitly and the statement lands clean
    GraftTable.deleteWhereMoR(spark, r2, col("id") < 10L)
    assert(GraftTable.read(spark, r2).count() == 91L)
  }

  test("N concurrent appenders all commit via auto-retry, no caller loops") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = freshRoot("retry-appends")
    import spark.implicits._
    val schema = Seq((0L, "seed")).toDF("k", "tag").schema
    GraftTable.create(spark, root, schema)
    val writers = 6
    // every appender plans against the SAME head — a guaranteed
    // slot pile-up the optimistic retry must absorb without any
    // caller-side loop (Iceberg's commit.retry contract)
    val ids = Await.result(Future.sequence((0 until writers).map(w => Future(
      GraftTable.append(spark, root,
        Seq.tabulate(10)(i => (w * 100L + i, s"w$w")).toDF("k", "tag"))))),
      3.minutes)
    assert(ids.toSet.size == writers, s"landed ids must be distinct: $ids")
    val got = GraftTable.read(spark, root)
    assert(got.count() == writers * 10L)
    assert(got.select("tag").distinct().count() == writers)
    // each returned id is the commit that holds ITS writer's rows —
    // the landed slot, not the planned one (time travel correctness)
    ids.zipWithIndex.foreach { case (id, _) =>
      val atId = GraftTable.read(spark, root, Some(id))
      val prev = GraftTable.read(spark, root, Some(id - 1))
      assert(atId.count() == prev.count() + 10,
        s"snapshot $id must add exactly its writer's 10 rows")
    }
    // row lineage survived the retries: re-stamped against each
    // landed parent, so ids stay table-wide unique
    val rowIds = GraftTable.readWithRowIds(spark, root).select("_row_id")
      .as[Long].collect()
    assert(rowIds.length == writers * 10 && rowIds.toSet.size == rowIds.length,
      "auto-retried appends must not collide _row_id blocks")
  }

  test("append racing a compaction: both commit (file-disjoint auto-retry)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = freshRoot("retry-maint")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    (0 until 4).foreach(_ => GraftTable.append(spark, root, n.limit(5)))
    val compact = Future(GraftTable.rewriteDataFiles(spark, root))
    val app = Future(GraftTable.append(spark, root, n.limit(3)))
    Await.result(compact, 2.minutes); Await.result(app, 2.minutes)
    assert(GraftTable.read(spark, root).count() == 23L)
    // the log replays cleanly and no staged debris survived
    assert(GraftTable.state(root).files.forall(f =>
      Files.exists(Paths.get(root, f.path))))
  }

  // ── row-level MERGE / UPDATE ────────────────────────────────────────

  test("merge upserts: matched keys replaced, unmatched inserted, others untouched") {
    val root = freshRoot("merge")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n)
    val source = n.filter(col("n_nationkey") < 3)
      .withColumn("n_name", concat(col("n_name"), lit("_v2")))
      .unionByName(n.filter(col("n_nationkey") === 0)
        .withColumn("n_nationkey", col("n_nationkey") + 1000)
        .withColumn("n_name", lit("NEWLAND")))
    GraftTable.merge(spark, root, source, Seq("n_nationkey"))
    val got = GraftTable.read(spark, root)
    assert(got.count() == n.count() + 1)
    assert(got.filter(col("n_nationkey") < 3)
      .collect().forall(_.getAs[String]("n_name").endsWith("_v2")))
    assert(got.filter(col("n_nationkey") === 1000)
      .collect().head.getAs[String]("n_name") == "NEWLAND")
    assert(got.filter(col("n_nationkey") >= 3 && col("n_nationkey") < 1000)
      .except(n.filter(col("n_nationkey") >= 3)).isEmpty)
    // duplicate source keys fail loudly (MERGE cardinality rule)
    assertThrows[IllegalArgumentException] {
      GraftTable.merge(spark, root, source.unionAll(source), Seq("n_nationkey"))
    }
    // ...but null-keyed rows are exempt: null never equals a target
    // key, so two of them are two ordinary inserts, not a breach
    val nulls = source.limit(1)
      .withColumn("n_nationkey", lit(null).cast(n.schema("n_nationkey").dataType))
    val before = GraftTable.read(spark, root).count()
    GraftTable.merge(spark, root, nulls.unionAll(nulls), Seq("n_nationkey"))
    assert(GraftTable.read(spark, root).count() == before + 2,
      "null-keyed source rows must insert, not trip the cardinality rule")
  }

  test("merge rewrites only files whose stats overlap the source keys") {
    val root = freshRoot("merge-prune")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n.filter(col("n_nationkey") < 12))
    GraftTable.append(spark, root, n.filter(col("n_nationkey") >= 12))
    val pathsBefore = GraftTable.filesTable(spark, root)
      .select("file_path").collect().map(_.getString(0)).toSet
    GraftTable.merge(spark, root,
      n.filter(col("n_nationkey") === 20).withColumn("n_name", lit("X")),
      Seq("n_nationkey"))
    val pathsAfter = GraftTable.filesTable(spark, root)
      .select("file_path").collect().map(_.getString(0)).toSet
    // the low-key file survives untouched; only the overlapping file rewrote
    assert((pathsBefore & pathsAfter).nonEmpty, "non-overlapping files must carry over")
  }

  test("update applies set expressions to matching rows atomically") {
    val root = freshRoot("update")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n)
    GraftTable.update(spark, root, col("n_regionkey") === 2,
      Map("n_name" -> lower(col("n_name")), "n_regionkey" -> (col("n_regionkey") + 10)))
    val got = GraftTable.read(spark, root)
    assert(got.filter(col("n_regionkey") === 2).count() == 0)
    val updated = got.filter(col("n_regionkey") === 12).collect()
    assert(updated.length == n.filter(col("n_regionkey") === 2).count())
    assert(updated.forall(r => r.getAs[String]("n_name") == r.getAs[String]("n_name").toLowerCase))
    assert(got.filter(col("n_regionkey") =!= 12)
      .except(n.filter(col("n_regionkey") =!= 2)).isEmpty)
  }

  test("sort rewrite restores pruning power on an interleaved key") {
    val root = freshRoot("sortrw")
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    GraftTable.create(spark, root, o.schema)
    // 4 modulo appends interleave every key range across every file:
    // a key-range scan can prune nothing
    (0 until 4).foreach(i =>
      GraftTable.append(spark, root, o.filter(col("o_orderkey") % 4 === i)))
    val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val pred = Seq(GraftTable.Gt("o_orderkey", (maxKey - 20).toString))
    val (_, t0, l0) = GraftTable.scan(spark, root, pred)
    assert(l0 == t0, "interleaved files: nothing prunable")
    // sort-rewrite on the key → tight disjoint per-file ranges
    // (driven through CALL with an absolute table path, covering the
    // procedure's path-resolution branch too)
    spark.sql(s"CALL graft_system.rewrite_data_files(table => '$root', " +
      "strategy => 'sort', sort_order => 'o_orderkey', target_file_size_bytes => 16384)")
    val (df, t1, l1) = GraftTable.scan(spark, root, pred)
    assert(t1 > 1, "sort rewrite must produce multiple files")
    assert(l1 < t1, s"sorted files must prune (live=$l1 total=$t1)")
    assert(df.count() == o.filter(col("o_orderkey") > maxKey - 20).count())
    // row-level content unchanged
    assert(GraftTable.read(spark, root).except(o).isEmpty
      && o.except(GraftTable.read(spark, root)).isEmpty)
  }

  // ── metadata views ──────────────────────────────────────────────────

  test("partitions/manifests/refs metadata views reflect table state") {
    val root = freshRoot("metaviews")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map(GraftTable.specProp -> "identity(n_regionkey)"))
    GraftTable.append(spark, root, n)
    val parts = GraftTable.partitionsTable(spark, root).collect()
    assert(parts.length == 5)
    assert(parts.map(_.getLong(2)).sum == n.count())
    GraftTable.rewriteManifests(root)
    val kinds = GraftTable.manifestsTable(spark, root)
      .select("kind").collect().map(_.getString(0)).toSet
    assert(Set("commit", "checkpoint", "checkpoint_meta", "checkpoint_files").subsetOf(kinds))
    val refs = GraftTable.refsTable(spark, root).collect()
    assert(refs.length == 1 && refs.head.getString(0) == "main"
      && refs.head.getLong(2) == GraftTable.latestSnapshotId(root))
    // after the checkpoint, .files serves from the parquet file list —
    // identical content to the driver replay
    val fromCkpt = GraftTable.filesTable(spark, root)
      .orderBy("file_path").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getString(4)))
    val fromReplay = GraftTable.state(root).files.sortBy(_.path).map(f =>
      (f.path, f.sizeBytes, f.records, f.content.getOrElse(0),
        f.partitionValues.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")))
    assert(fromCkpt.toSeq == fromReplay,
      "checkpoint-served and replay-served .files must agree")
    // .partitions rides the same split: the checkpoint-aggregated
    // rollup must equal the driver rollup it replaced
    val partsCkpt = GraftTable.partitionsTable(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(partsCkpt == parts
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      "checkpoint-aggregated and driver .partitions must agree")
    // an as-of read between checkpoints still takes the driver path
    GraftTable.append(spark, root, n.limit(1))
    assert(GraftTable.partitionsTable(spark, root).collect()
      .map(_.getLong(2)).sum == n.count() + 1)
  }

  // ── distributed planning ────────────────────────────────────────────

  test("planScan prunes via a Spark job over the parquet checkpoint above the threshold") {
    val root = freshRoot("planscan")
    val n = Tables.nation(spark, sf)
    // low threshold so the distributed path triggers at test scale
    GraftTable.create(spark, root, n.schema,
      Map("graft.planning.distributed-threshold" -> "4",
        "graft.write-partitions" -> "4",
        "graft.partition-columns" -> "n_regionkey"))
    GraftTable.append(spark, root, n)
    GraftTable.append(spark, root, n.withColumn("n_nationkey", col("n_nationkey") + 100))
    GraftTable.rewriteManifests(root)
    // post-checkpoint tail commit: must be planned in too
    GraftTable.append(spark, root, n.withColumn("n_nationkey", col("n_nationkey") + 200))
    val plan = GraftTable.planScan(spark, root, Seq(Gt("n_nationkey", "195")))
    assert(plan.distributed, "file count above threshold must plan distributed")
    assert(plan.liveFiles < plan.totalFiles,
      s"stats pruning must drop files (live=${plan.liveFiles} total=${plan.totalFiles})")
    assert(plan.df.count() == 25)   // the +200 shifted copy only
    // exact agreement with the driver planner
    val (ddf, dtotal, dlive) = GraftTable.scan(spark, root, Seq(Gt("n_nationkey", "195")))
    assert(plan.totalFiles == dtotal.toLong && plan.liveFiles == dlive.toLong)
    assert(plan.df.except(ddf).isEmpty && ddf.except(plan.df).isEmpty)
    // below the threshold (or no checkpoint) it stays on the driver
    val small = freshRoot("planscan-small")
    GraftTable.create(spark, small, n.schema)
    GraftTable.append(spark, small, n)
    assert(!GraftTable.planScan(spark, small, Seq(Lt("n_nationkey", "5"))).distributed)
  }

  test("row-level DML plans victims off the checkpoint above the threshold") {
    // the r8 verdict's last driver-memory ceiling: deleteWhere/update/
    // merge/overwriteWhere victim selection must ride the same
    // checkpoint + tail path planScan uses, never state(root).files
    val n = Tables.nation(spark, sf)
    def build(root: String, props: Map[String, String]): Unit = {
      GraftTable.create(spark, root, n.schema,
        props ++ Map("graft.write-partitions" -> "4",
          "graft.partition-columns" -> "n_regionkey"))
      GraftTable.append(spark, root, n)
      GraftTable.append(spark, root, n.withColumn("n_nationkey", col("n_nationkey") + 100))
      GraftTable.rewriteManifests(root)
      // post-checkpoint tail commit: victims must be planned in too
      GraftTable.append(spark, root, n.withColumn("n_nationkey", col("n_nationkey") + 200))
    }
    val root = freshRoot("dmlplan")
    build(root, Map("graft.planning.distributed-threshold" -> "4"))
    val twin = freshRoot("dmlplan-twin")
    build(twin, Map.empty)   // default threshold 1000: driver path
    val preds = Seq(Gt("n_nationkey", "195"))
    val (victims, _, dist) = GraftTable.planDmlProbe(spark, root, preds)
    val (dVictims, _, dDist) = GraftTable.planDmlProbe(spark, twin, preds)
    assert(dist, "above the threshold DML victims must plan distributed")
    assert(!dDist, "below the threshold DML victims stay on the driver")
    assert(victims.size == dVictims.size,
      s"planner parity: distributed picked ${victims.size} victims, driver ${dVictims.size}")
    // the real DML: its commit's removes set must BE the probe's victim set
    val pre = GraftTable.state(root)
    GraftTable.deleteWhere(spark, root, col("n_nationkey") > 195)
    val post = GraftTable.state(root)
    val removed = pre.files.map(_.path).toSet -- post.files.map(_.path).toSet
    assert(removed == victims.toSet,
      s"commit victims (${removed.size}) != probe victims (${victims.size})")
    assert(removed.size < pre.files.count(_.isData),
      "pruning must leave untouched files out of the rewrite")
    // identical end state through the driver-planned twin
    GraftTable.deleteWhere(spark, twin, col("n_nationkey") > 195)
    val (a, b) = (GraftTable.read(spark, root), GraftTable.read(spark, twin))
    assert(a.count() == 50 && a.except(b).isEmpty && b.except(a).isEmpty,
      "checkpoint-planned DML must produce the driver-planned result")
  }

  test("null-count pruning agrees between the driver and distributed planners") {
    import GraftTable.{IsNull => GIsNull, NotNull => GNotNull}
    val root = freshRoot("nullprune")
    val df = spark.range(0, 50).select(col("id"),
      when(col("id") < 25, col("id").cast("string")).as("v"),
      when(col("id") % 2 === 0, col("id") % 5).as("grp"))
    GraftTable.create(spark, root, df.schema,
      Map("graft.planning.distributed-threshold" -> "2",
        GraftTable.specProp -> "identity(grp)"))
    GraftTable.append(spark, root, df)
    GraftTable.rewriteManifests(root)   // checkpoint
    GraftTable.append(spark, root, df.withColumn("id", col("id") + 100)) // tail
    for (pred <- Seq(GNotNull("grp"), GIsNull("grp"), GNotNull("v"), GIsNull("v"))) {
      val plan = GraftTable.planScan(spark, root, Seq(pred))
      assert(plan.distributed, s"$pred must stay on the distributed path")
      val (ddf, dtotal, dlive) = GraftTable.scan(spark, root, Seq(pred))
      assert(plan.totalFiles == dtotal.toLong && plan.liveFiles == dlive.toLong,
        s"$pred: planner disagreement (dist=${plan.liveFiles} driver=$dlive)")
      assert(plan.df.except(ddf).isEmpty && ddf.except(plan.df).isEmpty, s"$pred rows differ")
    }
    // the partition tuple makes null-membership on grp EXACT: only
    // sentinel files serve IS NULL, only non-sentinel IS NOT NULL
    val nn = GraftTable.planScan(spark, root, Seq(GNotNull("grp")))
    val isn = GraftTable.planScan(spark, root, Seq(GIsNull("grp")))
    assert(nn.liveFiles < nn.totalFiles && isn.liveFiles < isn.totalFiles,
      s"identity-partition null pruning must skip files " +
        s"(notNull=${nn.liveFiles}/${nn.totalFiles} isNull=${isn.liveFiles}/${isn.totalFiles})")
    assert(nn.df.count() == 50 && isn.df.count() == 50)
  }

  test("a REPLACE in the checkpoint tail resets spec and schema in the distributed planner") {
    val root = freshRoot("replan")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("graft.planning.distributed-threshold" -> "4",
        "graft.write-partitions" -> "4",
        "graft.partition-columns" -> "n_regionkey"))
    GraftTable.append(spark, root, n)
    GraftTable.append(spark, root, n.withColumn("n_nationkey", col("n_nationkey") + 100))
    GraftTable.rewriteManifests(root)   // checkpoint the OLD generation
    // stage a new generation under a different schema AND partition
    // spec, then commit it into the lineage — the planner's
    // checkpoint+tail path must serve the post-replace config, not
    // merge the old spec through
    val stagedRoot = freshRoot("replan-staged")
    val df = spark.range(1, 9).select(col("id"), (col("id") % 2).as("grp"))
    GraftTable.create(spark, stagedRoot, df.schema,
      Map(GraftTable.specProp -> "identity(grp)"))
    GraftTable.append(spark, stagedRoot, df)
    GraftTable.replaceFrom(root, stagedRoot)
    val plan = GraftTable.planScan(spark, root, Seq(Eq("grp", "1")))
    assert(plan.distributed, "replace in the tail must stay on the distributed path")
    assert(plan.liveFiles < plan.totalFiles,
      s"pruning must use the NEW spec (live=${plan.liveFiles} total=${plan.totalFiles})")
    assert(plan.df.count() == 4)   // ids 1..8 with id % 2 = 1
    val (ddf, dtotal, dlive) = GraftTable.scan(spark, root, Seq(Eq("grp", "1")))
    assert(plan.totalFiles == dtotal.toLong && plan.liveFiles == dlive.toLong)
    assert(plan.df.except(ddf).isEmpty && ddf.except(plan.df).isEmpty)
  }

  test("REPLACE retires live MoR delete files; post-replace MoR deletes start clean") {
    import spark.implicits._
    val root = freshRoot("replace-mor")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n)
    GraftTable.deleteWhereMoR(spark, root, col("n_regionkey") === 0)     // position
    GraftTable.deleteEqualityMoR(spark, root, Seq(12L).toDF("n_nationkey")) // equality
    val pre = GraftTable.state(root)
    assert(pre.files.count(_.isDelete) == 2, "lifecycle must stage both delete kinds")
    val preCount = GraftTable.read(spark, root).count()
    // stage + commit a new generation: every old file — data AND
    // delete — must leave the live set in the one replace commit
    val stagedRoot = freshRoot("replace-mor-staged")
    val df = spark.range(0, 10).select(col("id"), (col("id") * 2).as("v"))
    GraftTable.create(spark, stagedRoot, df.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, stagedRoot, df)
    GraftTable.replaceFrom(root, stagedRoot)
    val post = GraftTable.state(root)
    assert(post.files.forall(_.isData), "no old delete file may survive the replace")
    assert(GraftTable.read(spark, root).count() == 10)
    // old generation (with its deletes applied) still time-travels
    assert(GraftTable.read(spark, root, Some(pre.snapshotId)).count() == preCount)
    // the sequence rule holds for the new generation: a fresh eq-delete
    // (snapshot > replace) applies to the replace's files
    GraftTable.deleteEqualityMoR(spark, root, Seq(4L, 6L).toDF("id"))
    assert(GraftTable.read(spark, root).count() == 8)
  }

  test("MoR position deletes keep applying after the table directory moves") {
    val root = freshRoot("mor-rename")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n)
    GraftTable.deleteWhere(spark, root, col("n_regionkey") === 0)
    assert(GraftTable.read(spark, root).filter(col("n_regionkey") === 0).count() == 0)
    // ALTER TABLE RENAME physically moves the directory, but the
    // delete file recorded absolute URIs of the OLD location — the
    // read must match on the unique file NAME or deleted rows would
    // silently resurrect after a rename
    val moved = freshRoot("mor-renamed")
    Files.move(Paths.get(root), Paths.get(moved))
    val live = GraftTable.read(spark, moved)
    assert(live.filter(col("n_regionkey") === 0).count() == 0,
      "position deletes must keep matching after a rename")
    assert(live.count() == n.filter(col("n_regionkey") =!= 0).count())
  }

  test("empty-string partition values are not pruned as NULL sentinels") {
    val root = freshRoot("part-empty")
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "a"), (3L, "b"))
      .toDF("id", "c")
      .union(Seq((4L, Option.empty[String])).toDF("id", "c"))
    GraftTable.create(spark, root, df.schema, Map(GraftTable.specProp -> "identity(c)"))
    GraftTable.append(spark, root, df)
    // the writer renders BOTH '' and NULL as __HIVE_DEFAULT_PARTITION__ —
    // an equality scan on '' must still find the empty-string row (the
    // NULL row in the same file drops at the row-level filter)
    val (got, _, _) = GraftTable.scan(spark, root, Seq(Eq("c", "")))
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "c = '' must return the empty-string row despite the shared sentinel")
    // string range predicates cover '' too
    val (le, _, _) = GraftTable.scan(spark, root, Seq(Le("c", "a")))
    assert(le.count() == 2)
    // a genuinely-NULL numeric partition still prunes: no '' ambiguity
    val root2 = freshRoot("part-nullnum")
    val df2 = Seq((1L, Some(10L)), (2L, None)).toDF("id", "k")
    GraftTable.create(spark, root2, df2.schema, Map(GraftTable.specProp -> "identity(k)"))
    GraftTable.append(spark, root2, df2)
    val (_, total2, live2) = GraftTable.scan(spark, root2, Seq(Eq("k", "10")))
    assert(live2 < total2, "NULL numeric partitions must still prune")
  }

  test("planScan replays the post-checkpoint tail in order: rollback re-adds survive") {
    val root = freshRoot("planscan-rollback")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("graft.planning.distributed-threshold" -> "2",
        "graft.write-partitions" -> "4",
        "graft.partition-columns" -> "n_regionkey"))
    GraftTable.append(spark, root, n)          // snapshot 1: four small files
    GraftTable.rewriteManifests(root)          // parquet checkpoint at snapshot 1
    // tail commit 2 removes the original files (compaction)…
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = 512 * 1024 * 1024)
    // …tail commit 3 (rollback) re-ADDS them and removes the compacted
    // file — a flat union of tail removes would lose the re-added files
    GraftTable.rollbackToSnapshot(root, 1L)
    val plan = GraftTable.planScan(spark, root, Seq.empty)
    assert(plan.distributed)
    assert(plan.df.count() == n.count(),
      "rollback-re-added files must stay in the distributed plan")
    val (ddf, dtotal, dlive) = GraftTable.scan(spark, root, Seq.empty)
    assert(plan.totalFiles == dtotal.toLong && plan.liveFiles == dlive.toLong,
      s"distributed planner must agree with the driver planner " +
        s"(${plan.totalFiles}/${plan.liveFiles} vs $dtotal/$dlive)")
    assert(plan.df.except(ddf).isEmpty && ddf.except(plan.df).isEmpty)
  }

  test("auto-compaction bin-packs inline once enough small files accumulate") {
    val root = freshRoot("autocompact")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("graft.auto-compact.min-files" -> "4",
        "graft.write-partitions" -> "2",
        "graft.partition-columns" -> "n_regionkey"))
    GraftTable.append(spark, root, n.filter(col("n_nationkey") % 2 === 0))
    // 2 small files < threshold: no compaction yet
    assert(!GraftTable.snapshotsTable(spark, root).select("operation").collect()
      .map(_.getString(0)).contains("rewrite_data_files"))
    GraftTable.append(spark, root, n.filter(col("n_nationkey") % 2 === 1))
    // 4 small files >= threshold: the append triggered an inline bin-pack
    val ops = GraftTable.snapshotsTable(spark, root).select("operation")
      .collect().map(_.getString(0))
    assert(ops.contains("rewrite_data_files"), s"auto-compact must run: ${ops.toSeq}")
    assert(GraftTable.filesTable(spark, root).filter(col("content") === 0).count() < 4)
    assert(GraftTable.read(spark, root).count() == n.count())
  }

  test("tags: named time travel, .refs rows, and expiry pinning") {
    val root = freshRoot("tags")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n.filter(col("n_nationkey") < 10))   // 1
    GraftTable.createTag(root, "v1", 1L)                                // 2
    GraftTable.append(spark, root, n.filter(col("n_nationkey") >= 10))  // 3
    GraftTable.overwriteWhere(spark, root, col("n_regionkey") === 0)    // 4
    // tag reads the pinned snapshot regardless of later commits
    assert(GraftTable.readTag(spark, root, "v1").count() ==
      n.filter(col("n_nationkey") < 10).count())
    val refs = GraftTable.refsTable(spark, root).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(refs("main") == (("BRANCH", 4L)) && refs("v1") == (("TAG", 1L)))
    // expiry cannot advance past the tag...
    GraftTable.expireSnapshots(root, 1)
    assert(GraftTable.readTag(spark, root, "v1").count() ==
      n.filter(col("n_nationkey") < 10).count(), "tagged snapshot must survive expiry")
    // ...until the tag is dropped
    GraftTable.dropTag(root, "v1")                                      // 5
    GraftTable.expireSnapshots(root, 1)
    assertThrows[IllegalArgumentException] { GraftTable.read(spark, root, Some(1L)) }
    assert(!GraftTable.refsTable(spark, root).collect().exists(_.getString(0) == "v1"))
    // duplicate tag names and unknown snapshots fail loudly
    assertThrows[IllegalArgumentException] { GraftTable.createTag(root, "x", 999L) }
  }

  test("z-order rewrite restores pruning on BOTH clustered columns") {
    val root = freshRoot("zorder")
    val df = spark.range(40000).select(
      col("id"),
      (col("id") % 1000).as("a"),
      ((col("id") * 7919) % 1000).as("b"))
    GraftTable.create(spark, root, df.schema)
    // id-ranged appends: every file spans the FULL a and b ranges, so
    // stats pruning on either column skips nothing
    (0 until 4).foreach { i =>
      GraftTable.append(spark, root,
        df.filter(col("id") >= i * 10000 && col("id") < (i + 1) * 10000).repartition(2))
    }
    val (_, t0, l0) = GraftTable.scan(spark, root, Seq(Le("a", "60")))
    assert(l0 == t0, "interleaved appends must not prune (test setup)")
    GraftTable.rewriteDataFilesZOrder(spark, root, Seq("a", "b"),
      targetFileSizeBytes = 20 * 1024)
    // a z-curve file covers a tight range of EVERY z column: both a-
    // and b-predicates prune now — a linear sort on (a, b) would only
    // ever prune on a
    val (da, t1, l1) = GraftTable.scan(spark, root, Seq(Le("a", "60")))
    assert(t1 > 4 && l1 < t1, s"a-pred must prune after z-order (live=$l1 total=$t1)")
    val (db, _, l2) = GraftTable.scan(spark, root, Seq(Le("b", "60")))
    assert(l2 < t1, s"b-pred must prune after z-order (live=$l2 total=$t1)")
    // and the rewrite changed no rows
    assert(da.count() == df.filter(col("a") <= 60).count())
    assert(db.count() == df.filter(col("b") <= 60).count())
    assert(GraftTable.read(spark, root).count() == 40000)
    // CDC sees it as maintenance: nothing changed
    val last = GraftTable.latestSnapshotId(root)
    assert(GraftTable.changes(spark, root, last - 1, last).count() == 0)
  }

  test("changes() emits per-commit inserts/deletes; maintenance commits emit nothing") {
    val root = freshRoot("cdc")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n.filter(col("n_nationkey") < 10))    // 1
    GraftTable.append(spark, root, n.filter(col("n_nationkey") >= 10))   // 2
    GraftTable.deleteWhere(spark, root, col("n_regionkey") === 0)        // 3: MoR delete
    GraftTable.rewritePositionDeletes(spark, root)                       // 4: maintenance
    GraftTable.update(spark, root, col("n_nationkey") === 14,
      Map("n_name" -> lit("EDITED")))                                    // 5: delete+insert
    GraftTable.rewriteDataFiles(spark, root, targetFileSizeBytes = 512 * 1024 * 1024) // 6
    val all = GraftTable.changes(spark, root, 0L, 6L).cache()
    // snapshot 1+2: pure inserts reproducing the table
    assert(all.filter(col("_commit_snapshot_id").isin(1L, 2L))
      .filter(col("_change_type") === "insert").count() == n.count())
    // snapshot 3: deletes exactly the region-0 rows
    val d3 = all.filter(col("_commit_snapshot_id") === 3)
    assert(d3.filter(col("_change_type") === "insert").count() == 0)
    assert(d3.select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq ==
      n.filter(col("n_regionkey") === 0).select("n_nationkey")
        .collect().map(_.getInt(0)).sorted.toSeq)
    // maintenance snapshots emit nothing
    assert(all.filter(col("_commit_snapshot_id").isin(4L, 6L)).count() == 0)
    // the update is one delete + one insert of the same key
    val u = all.filter(col("_commit_snapshot_id") === 5)
      .select("_change_type", "n_nationkey", "n_name").collect()
    assert(u.length == 2 && u.forall(_.getInt(1) == 14))
    assert(u.filter(_.getString(0) == "insert").map(_.getString(2)).toSeq == Seq("EDITED"))
    // replaying the full feed reconstructs the final table
    val inserts = all.filter(col("_change_type") === "insert").drop(
      "_change_type", "_commit_snapshot_id", "_commit_timestamp_ms")
    val deletes = all.filter(col("_change_type") === "delete").drop(
      "_change_type", "_commit_snapshot_id", "_commit_timestamp_ms")
    val replayed = inserts.exceptAll(deletes)
    val live = GraftTable.read(spark, root)
    assert(replayed.exceptAll(live).isEmpty && live.exceptAll(replayed).isEmpty,
      "insert-minus-delete over the feed must equal the live table")
  }

  test("changes() diffs rollbacks; readIncremental covers append-only ranges") {
    val root = freshRoot("cdc-rollback")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    GraftTable.append(spark, root, n.filter(col("n_nationkey") < 10))    // 1
    GraftTable.append(spark, root, n.filter(col("n_nationkey") >= 10))   // 2
    GraftTable.overwriteWhere(spark, root, col("n_nationkey") >= 20)     // 3: CoW delete
    GraftTable.rollbackToSnapshot(root, 2L)                              // 4: restores them
    val c3 = GraftTable.changes(spark, root, 2L, 3L)
    assert(c3.filter(col("_change_type") === "delete").count() == 5)
    val c4 = GraftTable.changes(spark, root, 3L, 4L)
    assert(c4.filter(col("_change_type") === "insert").count() == 5,
      "rollback must surface restored rows as inserts")
    assert(c4.filter(col("_change_type") === "delete").count() == 0)
    // incremental read: appends stream through, row-changing ops refuse
    assert(GraftTable.readIncremental(spark, root, 0L, 2L).count() == n.count())
    assertThrows[IllegalArgumentException] {
      GraftTable.readIncremental(spark, root, 0L, 3L)
    }
  }

  test("changes() surfaces resurrected rows when a rollback removes a MoR delete") {
    val root = freshRoot("cdc-mor-rollback")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n)                                  // 1
    GraftTable.deleteWhere(spark, root, col("n_regionkey") === 2)      // 2: MoR delete
    GraftTable.rollbackToSnapshot(root, 1L)                            // 3: removes the delete file
    assert(GraftTable.read(spark, root).count() == n.count())
    val c3 = GraftTable.changes(spark, root, 2L, 3L)
    val resurrected = n.filter(col("n_regionkey") === 2).count()
    assert(c3.filter(col("_change_type") === "insert").count() == resurrected,
      "removing a position-delete file must emit the resurrected rows as inserts")
    assert(c3.filter(col("_change_type") === "delete").count() == 0)
    // the full feed still replays to the live table
    val all = GraftTable.changes(spark, root, 0L, 3L)
    val replayed = all.filter(col("_change_type") === "insert")
      .drop("_change_type", "_commit_snapshot_id", "_commit_timestamp_ms")
      .exceptAll(all.filter(col("_change_type") === "delete")
        .drop("_change_type", "_commit_snapshot_id", "_commit_timestamp_ms"))
    assert(replayed.exceptAll(GraftTable.read(spark, root)).isEmpty)
    // set_properties is maintenance: readIncremental tolerates it
    GraftTable.setProperties(root, Map("graft.note" -> "x"))           // 4
    GraftTable.append(spark, root, n.limit(1))                         // 5
    assert(GraftTable.readIncremental(spark, root, 3L, 5L).count() == 1)
    assert(GraftTable.changes(spark, root, 3L, 4L).count() == 0)
  }

  test("changes() refuses ranges with expired commits instead of a partial feed") {
    val root = freshRoot("cdc-expired")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema)
    (0 until 4).foreach(i => GraftTable.append(spark, root,
      n.filter(col("n_nationkey") % 4 === i)))                         // 1..4
    GraftTable.expireSnapshots(root, 2)                                // 1,2 gone
    assertThrows[IllegalArgumentException] { GraftTable.changes(spark, root, 0L, 4L) }
    assertThrows[IllegalArgumentException] { GraftTable.readIncremental(spark, root, 0L, 4L) }
    // the surviving suffix still feeds
    assert(GraftTable.changes(spark, root, 3L, 4L)
      .filter(col("_change_type") === "insert").count() ==
      n.filter(col("n_nationkey") % 4 === 3).count())
  }

  test("CDC equality-delete bounds skip non-orderable key types (decimal)") {
    val root = freshRoot("cdc-decimal")
    val df = spark.range(20).selectExpr("id", "CAST(id + 0.5 AS DECIMAL(10,2)) AS price")
    GraftTable.create(spark, root, df.schema)
    GraftTable.append(spark, root, df)                                        // 1
    GraftTable.deleteEqualityMoR(spark, root,
      df.filter(col("id") === 15).select("price"))                            // 2
    assert(GraftTable.read(spark, root).count() == 19)
    // decimal footer stats have no comparator order — the feed must
    // fall back to unbounded victims rather than mis-prune the file
    val c = GraftTable.changes(spark, root, 1L, 2L)
    assert(c.filter(col("_change_type") === "delete").count() == 1,
      "decimal-keyed delete must still appear in the feed")
    assert(c.filter(col("_change_type") === "insert").count() == 0)
  }

  // ── CDC across mid-range schema evolution (round-5 fix coverage) ────

  test("changes() across a mid-range RENAME serves pre-rename values under the live name") {
    import spark.implicits._
    val root = freshRoot("cdc-rename")
    val df1 = Seq((1L, "aa"), (2L, "bb")).toDF("id", "body")
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                                   // 1
    GraftTable.renameColumn(root, "body", "text")                         // 2
    GraftTable.append(spark, root, Seq((3L, "cc")).toDF("id", "text"))    // 3
    val feed = GraftTable.changes(spark, root, 0L, 3L)
    // ONLY end-schema columns, no dead physical name
    assert(feed.columns.toSet ==
      Set("id", "text", "_change_type", "_commit_snapshot_id", "_commit_timestamp_ms"))
    // pre-rename rows carry their values under the live name
    val rows = feed.filter(col("_change_type") === "insert")
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "aa", 2L -> "bb", 3L -> "cc"),
      s"pre-rename values must appear under 'text', got $rows")
  }

  test("changes() across a mid-range DROP COLUMN never emits the dead column") {
    import spark.implicits._
    val root = freshRoot("cdc-drop")
    val df1 = Seq((1L, "aa", 0.5), (2L, "bb", 1.5)).toDF("id", "body", "score")
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                                   // 1
    GraftTable.dropColumn(root, "score")                                  // 2
    GraftTable.append(spark, root, Seq((3L, "cc")).toDF("id", "body"))    // 3
    val feed = GraftTable.changes(spark, root, 0L, 3L)
    assert(!feed.columns.contains("score"), "dropped column must never ride along")
    assert(feed.filter(col("_change_type") === "insert").count() == 3)
    // a column ADDED mid-range is null for earlier commits
    GraftTable.addColumn(root, org.apache.spark.sql.types.StructField(
      "lang", org.apache.spark.sql.types.StringType))                     // 4
    GraftTable.append(spark, root,
      Seq((4L, "dd", "en")).toDF("id", "body", "lang"))                   // 5
    val feed2 = GraftTable.changes(spark, root, 0L, 5L)
    val byId = feed2.filter(col("_change_type") === "insert")
      .select("id", "lang").collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> None, 4L -> Some("en")))
  }

  test("changes() diffs a delete after a rename under the live name") {
    import spark.implicits._
    val root = freshRoot("cdc-rename-delete")
    val df1 = Seq((1L, "aa"), (2L, "bb")).toDF("id", "body")
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                                   // 1
    GraftTable.renameColumn(root, "body", "text")                         // 2
    GraftTable.deleteWhere(spark, root, col("id") === 1L)                 // 3: CoW rewrite
    val c3 = GraftTable.changes(spark, root, 2L, 3L)
    val dels = c3.filter(col("_change_type") === "delete")
      .select("id", "text").collect()
    assert(dels.length == 1 && dels.head.getLong(0) == 1L &&
      dels.head.getString(1) == "aa",
      "the delete row must carry its pre-rename value under the live name")
    assert(c3.filter(col("_change_type") === "insert").count() == 0)
  }

  test("stats pruning keeps skipping pre-rename files after a column rename") {
    import spark.implicits._
    val root = freshRoot("prune-rename")
    val lo = (0L until 10L).map(i => (i, i)).toDF("id", "v").repartition(1)
    val hi = (100L until 110L).map(i => (i, i)).toDF("id", "v").repartition(1)
    GraftTable.create(spark, root, lo.schema)
    GraftTable.append(spark, root, lo)     // 1: one file, v in [0,9]
    GraftTable.append(spark, root, hi)     // 2: one file, v in [100,109]
    GraftTable.renameColumn(root, "v", "w")
    // pre-rename files carry stats under 'v'; a predicate on the live
    // name must still prune them
    val (df, total, live) = GraftTable.scan(spark, root, Seq(Ge("w", "100")))
    assert(total == 2 && live == 1,
      s"rename must not un-prune history (live=$live total=$total)")
    assert(df.count() == 10)
    val (_, _, liveLo) = GraftTable.scan(spark, root, Seq(Le("w", "9")))
    assert(liveLo == 1)
    // distributed planning prunes through the same aliases
    GraftTable.setProperties(root, Map("graft.planning.distributed-threshold" -> "2"))
    GraftTable.rewriteManifests(root)
    val plan = GraftTable.planScan(spark, root, Seq(Ge("w", "100")))
    assert(plan.distributed && plan.liveFiles == 1 && plan.totalFiles == 2,
      s"distributed pruning must resolve prev names (live=${plan.liveFiles})")
    assert(plan.df.count() == 10)
  }

  test("changes() applies a historical equality delete whose key was later renamed") {
    import spark.implicits._
    val root = freshRoot("cdc-eq-rename")
    val df1 = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "k", "v")
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                                   // 1
    GraftTable.deleteEqualityMoR(spark, root, Seq("b").toDF("k"))         // 2
    GraftTable.rewriteEqualityDeletes(spark, root)                        // 3: retires the delete file
    GraftTable.renameColumn(root, "k", "kk")                              // 4
    val feed = GraftTable.changes(spark, root, 0L, 4L)
    assert(feed.columns.contains("kk") && !feed.columns.contains("k"))
    val dels = feed.filter(col("_change_type") === "delete")
      .select("id", "kk").collect()
    assert(dels.length == 1 && dels.head.getLong(0) == 2L && dels.head.getString(1) == "b",
      "the eq-delete keyed on the pre-rename name must still diff under the live name")
    assert(feed.filter(col("_change_type") === "insert").count() == 3)
  }

  test("changes() fails loudly on a historical equality delete whose key was dropped") {
    import spark.implicits._
    val root = freshRoot("cdc-eq-drop")
    val df1 = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "k", "v")
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                                   // 1
    GraftTable.deleteEqualityMoR(spark, root, Seq("b").toDF("k"))         // 2
    GraftTable.rewriteEqualityDeletes(spark, root)                        // 3
    GraftTable.dropColumn(root, "k")                                      // 4
    val e = intercept[IllegalArgumentException] {
      GraftTable.changes(spark, root, 0L, 4L).collect()
    }
    assert(e.getMessage.contains("dropped after the delete was written"))
    // a range ending before the drop still feeds fine
    assert(GraftTable.changes(spark, root, 0L, 3L)
      .filter(col("_change_type") === "delete").count() == 1)
  }

  test("a full rewrite retires prev-names and tombstones; partial rewrites do not") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val root = freshRoot("retire-names")
    val df1 = (0L until 10L).map(i => (i, s"b$i", i)).toDF("id", "body", "score")
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                             // 1
    GraftTable.renameColumn(root, "body", "text")                   // 2
    GraftTable.dropColumn(root, "score")                            // 3
    // both names refused while pre-rename/pre-drop files are live
    assertThrows[IllegalArgumentException] {
      GraftTable.addColumn(root, StructField("body", StringType))
    }
    assertThrows[IllegalArgumentException] {
      GraftTable.addColumn(root, StructField("score", LongType))
    }
    // a PARTIAL rewrite (keyed CoW delete touches only matching files)
    // must NOT retire the names
    GraftTable.deleteWhere(spark, root, col("id") === 0L)           // 4
    assertThrows[IllegalArgumentException] {
      GraftTable.addColumn(root, StructField("body", StringType))
    }
    // a FULL rewrite replaces every live data file: names retire
    GraftTable.rewriteDataFilesSorted(spark, root, Seq("id"))       // 5
    GraftTable.addColumn(root, StructField("score", LongType))      // 6: reusable now
    val out = GraftTable.read(spark, root)
    assert(out.columns.toSeq == Seq("id", "text", "score"))
    assert(out.filter(col("text").isNull).count() == 0 &&
      out.filter(col("score").isNotNull).count() == 0)
    assert(out.count() == 9)
  }

  test("CDC ranges spanning a name-retiring rewrite re-collect prev names; reuse refuses") {
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField}
    val root = freshRoot("cdc-retire")
    val df1 = Seq((1L, "aa"), (2L, "bb")).toDF("id", "body")
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                             // 1
    GraftTable.renameColumn(root, "body", "text")                   // 2
    GraftTable.rewriteDataFilesSorted(spark, root, Seq("id"))       // 3: retires 'body'
    // the live schema no longer knows 'body', but the range does —
    // commit 1's files physically carry it
    val feed = GraftTable.changes(spark, root, 0L, 3L)
    val rows = feed.filter(col("_change_type") === "insert")
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "aa", 2L -> "bb"),
      "a range spanning the retiring rewrite must still coalesce old physical names")
    // reuse the retired name, then a range crossing the re-add refuses
    GraftTable.addColumn(root, StructField("body", StringType))     // 4
    GraftTable.append(spark, root,
      Seq((3L, "cc", "new-body")).toDF("id", "text", "body"))       // 5
    val e = intercept[IllegalArgumentException] {
      GraftTable.changes(spark, root, 0L, 5L)
    }
    assert(e.getMessage.contains("reuse of physical column name"))
    // each side of the re-add still feeds
    assert(GraftTable.changes(spark, root, 0L, 3L).count() == 2)
    val late = GraftTable.changes(spark, root, 3L, 5L)
      .filter(col("_change_type") === "insert").select("id", "body").collect()
    assert(late.length == 1 && late.head.getString(1) == "new-body")
  }

  test("type widening: old files read under the widened type; time travel keeps the narrow one") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshRoot("widen")
    val df1 = Seq((1, 1.5f, BigDecimal("10.25")), (2, 2.5f, BigDecimal("20.50")))
      .toDF("id", "price", "amt")
      .select(col("id").cast("int"), col("price").cast("float"),
        col("amt").cast("decimal(10,2)")).repartition(1)
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                             // 1
    GraftTable.widenColumn(root, "id", LongType)                    // 2
    GraftTable.widenColumn(root, "price", DoubleType)               // 3
    GraftTable.widenColumn(root, "amt", DecimalType(14, 2))         // 4
    // new rows arrive at the widened width
    GraftTable.append(spark, root,
      Seq((3000000000L, 3.5d, BigDecimal("999999999999.75"))).toDF("id", "price", "amt")
        .select(col("id"), col("price"), col("amt").cast("decimal(14,2)"))
        .repartition(1))                                            // 5
    val out = GraftTable.read(spark, root)
    assert(out.schema("id").dataType == LongType)
    assert(out.schema("price").dataType == DoubleType)
    assert(out.schema("amt").dataType == DecimalType(14, 2))
    assert(out.count() == 3)
    assert(out.agg(sum(col("id"))).head().getLong(0) == 3000000003L)
    // old int32 values survive the up-conversion exactly
    assert(out.filter(col("id") === 1L).select("price").head().getDouble(0) == 1.5d)
    // time travel before the widening returns the historical narrow type
    assert(GraftTable.read(spark, root, asOf = Some(1L)).schema("id").dataType == IntegerType)
    // stats pruning stays correct across mixed-width files
    val (pruned, total, live) = GraftTable.scan(spark, root, Seq(Ge("id", "3000000000")))
    assert(total == 2 && live == 1, s"mixed-width pruning (live=$live total=$total)")
    assert(pruned.count() == 1)
    // narrowing and non-widening changes refuse
    assertThrows[IllegalArgumentException] { GraftTable.widenColumn(root, "id", IntegerType) }
    assertThrows[IllegalArgumentException] { GraftTable.widenColumn(root, "price", StringType) }
    assertThrows[IllegalArgumentException] { GraftTable.widenColumn(root, "amt", DecimalType(14, 4)) }
    // CDC across the widening serves every row at the end width; the
    // widen commits themselves are maintenance — they emit NOTHING,
    // and a mid-range widen must not split or duplicate the feed
    val feed = GraftTable.changes(spark, root, 0L, 5L)
    assert(feed.schema("id").dataType == LongType)
    assert(feed.filter(col("_change_type") === "insert").count() == 3)
    assert(feed.select("_commit_snapshot_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L),
      "widen commits 2-4 must emit no change rows")
    assert(feed.filter(col("_commit_snapshot_id") === 1L)
      .agg(sum(col("id"))).head().getLong(0) == 3L,
      "pre-widen int rows must up-convert exactly in the feed")
  }

  // Expiry drops commit 0, which declared the table's first schema.
  // Every schema consumer must serve the snapshot's own schema, on the
  // in-memory replay plane (default threshold) and on the
  // checkpoint-tail plane (threshold 1: ckptTail/planNativeScan).
  Seq("replay" -> None, "checkpoint-tail" -> Some("1")).foreach { case (plane, threshold) =>
    test(s"schemas survive the expiry of commit 0 ($plane planning)") {
      import spark.implicits._
      import org.apache.spark.sql.types._
      val name = s"expire_schema_${plane.replace('-', '_')}"
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lv2")
      spark.sql(s"DROP TABLE IF EXISTS graft.lv2.$name")
      val props = threshold.map(t =>
        s" TBLPROPERTIES ('graft.planning.distributed-threshold' = '$t')").getOrElse("")
      spark.sql(s"CREATE TABLE graft.lv2.$name (a INT)$props")            // 0
      val root = s"${SparkSpec.sqlWarehouse}/lv2/$name"
      GraftTable.append(spark, root, Seq(1).toDF("a"))                       // 1
      GraftTable.addColumn(root, StructField("b", StringType))               // 2
      GraftTable.append(spark, root, Seq((2, "x")).toDF("a", "b"))          // 3
      GraftTable.widenColumn(root, "a", LongType)                           // 4
      GraftTable.append(spark, root, Seq((3L, "y")).toDF("a", "b"))         // 5
      // keep {3, 4, 5}: the checkpoint lands at 3, commits 0-2 drop, and
      // the oldest retained snapshot still predates the widening
      GraftTable.expireSnapshots(root, retainLast = 3)
      assert(!Files.exists(Paths.get(root, "_graft_log", "0000000000.json")))
      def cols(s: StructType): Seq[(String, DataType)] =
        s.fields.toSeq.map(f => f.name -> f.dataType)
      val widened = Seq("a" -> LongType, "b" -> StringType)
      val narrow = Seq("a" -> IntegerType, "b" -> StringType)

      assert(cols(GraftTable.tableSchema(root)) == widened)
      assert(cols(GraftTable.read(spark, root).schema) == widened)
      val described = spark.sql(s"DESCRIBE TABLE graft.lv2.$name").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(described.get("a").contains("bigint") && described.get("b").contains("string"))
      val d = GraftTable.describeTable(spark, root).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(d("col: a") == "bigint" && d("col: b") == "string")
      val cdc = new graft.lake.GraftCdcStreamProvider()
        .sourceSchema(spark.sqlContext, None, "graft-cdc", Map("path" -> root))._2
      assert(cols(cdc).take(2) == widened)
      val plan = GraftTable.planScan(spark, root, Seq(Ge("a", "2")))
      assert(plan.distributed == threshold.isDefined)
      assert(cols(plan.df.schema) == widened && plan.df.count() == 2)

      // a further append of a LONG value conforms to the widened schema
      GraftTable.append(spark, root, Seq((3000000000L, "z")).toDF("a", "b"))
      val sqlOut = spark.sql(s"SELECT a, b FROM graft.lv2.$name")
      assert(cols(sqlOut.schema) == widened)
      assert(sqlOut.as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, null), (2L, "x"), (3L, "y"), (3000000000L, "z")))

      // time travel to the oldest retained snapshot keeps its own schema
      assert(cols(GraftTable.read(spark, root, Some(3L)).schema) == narrow)
      val oldPlan = GraftTable.planScan(spark, root, Seq.empty, asOf = Some(3L))
      assert(plan.distributed == oldPlan.distributed)
      assert(cols(oldPlan.df.schema) == narrow && oldPlan.df.count() == 2)
      val oldSql = spark.sql(s"SELECT a, b FROM graft.lv2.$name VERSION AS OF 3")
      assert(cols(oldSql.schema) == narrow)
      assert(oldSql.as[(Int, String)].collect().sorted.toSeq == Seq((1, null), (2, "x")))
    }
  }

  test(".entries/.metadata_log_entries/.all_files track adds, removes, and expiry") {
    import spark.implicits._
    val root = freshRoot("meta-entries")
    val a = (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").repartition(1)
    val b = (10L until 20L).map(i => (i, s"v$i")).toDF("id", "v").repartition(1)
    GraftTable.create(spark, root, a.schema)                    // 0
    GraftTable.append(spark, root, a)                           // 1: +A
    GraftTable.append(spark, root, b)                           // 2: +B
    GraftTable.deleteWhere(spark, root, col("id") < 5)          // 3: CoW −A +A′
    GraftTable.rewriteDataFiles(spark, root)                    // 4: −A′ −B +C
    // pre-expiry: every remove resolves through the in-log add
    val pre = GraftTable.entriesTable(spark, root).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(4)))
    val preAdds = pre.filter(_._1 == 1).map(r => r._3 -> r._4).toMap
    val preRemoves = pre.filter(_._1 == 2)
    assert(pre.count(_._1 == 1) == 4, "adds: A, B, A′, C")   // one per append/rewrite output
    assert(preRemoves.map(_._2).toSeq.sorted == Seq(3L, 4L, 4L))
    assert(preRemoves.forall(r => r._4 == preAdds(r._3)),
      "in-log removes must carry the records of the add that introduced the file")
    // all_files pre-expiry: A,B,A′ dead; C live
    val preAf = GraftTable.allFilesTable(spark, root).collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(preAf.size == 4 && preAf.values.count(identity) == 1)
    // expire to {3,4}: checkpoint lands at 3 (post −A), commits 0-2 drop
    GraftTable.expireSnapshots(root, retainLast = 2)
    val ml = GraftTable.metadataLogEntriesTable(spark, root).collect()
    assert(ml.map(_.getLong(2)).toSeq.sorted == Seq(3L, 4L),
      ".metadata_log_entries rows must equal the retained commit ids")
    assert(ml.forall(r => r.getString(1).matches("_graft_log/\\d{10}\\.json")))
    val post = GraftTable.entriesTable(spark, root).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(4), r.getLong(5)))
    val aPath = pre.filter(r => r._1 == 1 && r._2 == 1L).head._3
    val bPath = pre.filter(r => r._1 == 1 && r._2 == 2L).head._3
    val a2Path = pre.filter(r => r._1 == 1 && r._2 == 3L).head._3
    // A: add expired AND gone from the cutoff checkpoint (removed at
    // the cutoff itself) → the −1 only-a-checkpoint-knew-it sentinel
    val remA = post.filter(r => r._1 == 2 && r._3 == aPath).head
    assert(remA._4 == -1L && remA._5 == -1L, s"pre-log remove must carry -1 sentinels: $remA")
    // B: add expired but alive at the cutoff → resolves via the seed
    val remB = post.filter(r => r._1 == 2 && r._3 == bPath).head
    assert(remB._4 == 10L && remB._5 > 0L, s"checkpoint-seeded remove must resolve: $remB")
    // A′: add retained → resolves within the log
    val remA2 = post.filter(r => r._1 == 2 && r._3 == a2Path).head
    assert(remA2._4 == 5L && remA2._5 > 0L)
    // all_files survives expiry: A's add is gone with commit 1, the
    // rest keep their rows; only C stays live
    val postAf = GraftTable.allFilesTable(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getBoolean(5)))
    assert(!postAf.exists(_._1 == aPath))
    assert(postAf.map(_._1).toSet == Set(bPath, a2Path,
      pre.filter(r => r._1 == 1 && r._2 == 4L).head._3))
    assert(postAf.filter(_._3).map(_._2).toSeq == Seq(15L), "only compacted C is live")
    assert(postAf.filter(r => !r._3).map(_._1).toSet == Set(bPath, a2Path))
  }

  test(".entries/.all_files checkpoint-parquet path returns the driver path's rows") {
    import spark.implicits._
    val root = freshRoot("meta-entries-dist")
    val a = (0L until 10L).map(i => (i, i * 2)).toDF("id", "w").repartition(1)
    val b = (10L until 20L).map(i => (i, i * 2)).toDF("id", "w").repartition(1)
    GraftTable.create(spark, root, a.schema)                    // 0
    // bake a tiny planning threshold into the expiry checkpoint so the
    // distributed path triggers at 2 files
    GraftTable.setProperties(root,
      Map("graft.planning.distributed-threshold" -> "2"))       // 1
    GraftTable.append(spark, root, a)                           // 2: +A
    GraftTable.append(spark, root, b)                           // 3: +B
    GraftTable.deleteWhere(spark, root, col("id") < 5)          // 4: −A +A′
    GraftTable.expireSnapshots(root, retainLast = 1)            // ckpt at 4 = {A′, B}
    GraftTable.rewriteDataFiles(spark, root)                    // 5: −A′ −B +C
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // above-threshold: resolution/union runs over ckptfiles-4.parquet
    val distEntries = rows(GraftTable.entriesTable(spark, root))
    val distAll = rows(GraftTable.allFilesTable(spark, root))
    // adds A′@4, C@5 + removes A@4 (−1), A′@5 (in-log), B@5 (ckpt join)
    assert(distEntries.size == 5, s"unexpected entries: $distEntries")
    assert(GraftTable.entriesTable(spark, root)
      .filter(col("record_count") === -1L).count() == 1,
      "exactly the pre-checkpoint remove carries the -1 sentinel")
    // removing the parquet twin forces the legacy JSON driver path on
    // the SAME table state (how a hand-migrated table would read)
    val pq = Paths.get(root, "_graft_log", "ckptfiles-4.parquet")
    assert(Files.exists(pq), "expiry must have written the parquet checkpoint")
    val s = Files.walk(pq)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
    assert(rows(GraftTable.entriesTable(spark, root)) == distEntries,
      "checkpoint-parquet entries must equal the driver path's rows")
    assert(rows(GraftTable.allFilesTable(spark, root)) == distAll,
      "checkpoint-parquet all_files must equal the driver path's rows")
  }

  test("pre-stamp manifests never trust nulls==0: IS NULL declines to prune") {
    // round-7 ADVICE (low): manifests written before the -1
    // unknown-null sentinel clamped unknown counts to 0, and nothing
    // distinguished them from genuine zeros. Commits now carry a
    // statsVersion stamp; replay demotes an UNSTAMPED manifest's
    // zeros to the unknown sentinel, so null-count pruning declines
    // rather than trusting a count that may never have been computed.
    import spark.implicits._
    import GraftTable.{IsNull => GIsNull, NotNull => GNotNull}
    val root = freshRoot("stats-version")
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).select(col("id"),
      concat(lit("v"), col("id")).as("s"),                       // zero nulls
      when(lit(false), lit("x")).as("t")).repartition(2)         // ALL nulls
    GraftTable.create(spark, root, mk(0, 1).schema,
      Map("graft.planning.distributed-threshold" -> "2"))
    GraftTable.append(spark, root, mk(0, 40))
    // stamped manifest: a genuine zero prunes IS NULL entirely
    val (_, total, live) = GraftTable.scan(spark, root, Seq(GIsNull("s")))
    assert(total == 2 && live == 0, s"stamped zeros must prune (live=$live total=$total)")
    // strip the stamp from the commit — the legacy-manifest shape
    val cp = java.nio.file.Paths.get(root, "_graft_log", "0000000001.json")
    def strip(p: java.nio.file.Path): Unit = {
      val s = Files.readString(p)
      val out = s.replaceAll(",\\s*\"statsVersion\"\\s*:\\s*2", "")
      assert(out != s, s"no stamp found to strip in $p")
      Files.writeString(p, out)
    }
    strip(cp)
    val (_, t2, l2) = GraftTable.scan(spark, root, Seq(GIsNull("s")))
    assert(t2 == 2 && l2 == 2, s"legacy zeros must NOT prune IS NULL (live=$l2)")
    // positive counts were always real: all-null files still fail
    // IS NOT NULL even in a legacy manifest
    val (_, _, l3) = GraftTable.scan(spark, root, Seq(GNotNull("t")))
    assert(l3 == 0, s"legacy positive null counts stay trusted (live=$l3)")
    // distributed twin: checkpoint while stamped (parquet bakes raw
    // zeros), then strip the checkpoint+meta stamps — planScan must
    // demote the parquet's zeros and agree with the driver replay
    GraftTable.append(spark, root, mk(40, 60))   // restore stamped state is NOT needed; ckpt reflects live state
    GraftTable.rewriteManifests(root)
    strip(java.nio.file.Paths.get(root, "_graft_log", "checkpoint-2.json"))
    strip(java.nio.file.Paths.get(root, "_graft_log", "ckptmeta-2.json"))
    GraftTable.append(spark, root, mk(60, 70).repartition(1))   // stamped tail
    val plan = GraftTable.planScan(spark, root, Seq(GIsNull("s")))
    assert(plan.distributed, "must exercise the checkpoint-parquet path")
    val (_, dt, dl) = GraftTable.scan(spark, root, Seq(GIsNull("s")))
    assert(plan.totalFiles == dt.toLong && plan.liveFiles == dl.toLong,
      s"planner disagreement (dist=${plan.liveFiles} driver=$dl)")
    assert(dl == dt - 1,
      s"ckpt files keep IS NULL (unknown), only the stamped tail file prunes (live=$dl total=$dt)")
  }

  test("long uncheckpointed tails stay distributed: tail joins replace isin caps") {
    // round-7 verdict #3: a tail touching >10k paths used to fall back
    // to the O(table) driver path (and planScan to a giant isin list);
    // both now join the tail in, at any tail size
    import spark.implicits._
    val root = freshRoot("tail-join")
    def mk(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") % 3).as("g")).repartition(2)
    GraftTable.create(spark, root, mk(0, 1).schema,
      Map("graft.planning.distributed-threshold" -> "2"))
    GraftTable.append(spark, root, mk(0, 40))
    GraftTable.rewriteManifests(root)   // parquet checkpoint
    // tail: several appends, a full rewrite (touches every prior
    // path), and a CoW delete — a worst-case uncompacted tail shape
    for (i <- 1 to 5) GraftTable.append(spark, root, mk(40 + i * 10, 50 + i * 10))
    GraftTable.rewriteDataFiles(spark, root)
    GraftTable.deleteWhere(spark, root, col("id") < 10)
    val plan = GraftTable.planScan(spark, root, Seq(Ge("id", "20")))
    assert(plan.distributed, "rewrite-heavy tail must stay on the distributed path")
    val (ddf, dtot, dlive) = GraftTable.scan(spark, root, Seq(Ge("id", "20")))
    assert(plan.totalFiles == dtot.toLong && plan.liveFiles == dlive.toLong,
      s"planner disagreement (dist=${plan.liveFiles} driver=$dlive)")
    assert(plan.df.except(ddf).isEmpty && ddf.except(plan.df).isEmpty)
    // metadata views: live flags agree with the table state, one row
    // per retained path, and the tail enters the plan as a JOIN
    val liveFiles = GraftTable.state(root).files.map(_.path).toSet
    val af = GraftTable.allFilesTable(spark, root)
    val rows = af.collect()
    assert(rows.filter(_.getBoolean(5)).map(_.getString(0)).toSet == liveFiles,
      "all_files live flags must match the table state")
    assert(rows.map(_.getString(0)).distinct.length == rows.length,
      "first-wins dedup must leave one row per path")
    assert(af.queryExecution.executedPlan.toString.contains("Join"),
      "the tail must join in, not expand into the plan as literals")
  }

  test("float→double widening keeps stats pruning sound on pre-widen files") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshRoot("widen-float")
    val df1 = Seq((1L, 0.1f), (2L, 0.05f)).toDF("id", "price").repartition(1)
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)                  // 1: float stats, max text "0.1"
    GraftTable.widenColumn(root, "price", DoubleType)    // 2
    GraftTable.append(spark, root,
      Seq((3L, 7.5d)).toDF("id", "price").repartition(1)) // 3
    // (double) 0.1f = 0.10000000149… > 0.1d: the pre-widen file HOLDS a
    // matching row even though its stat text parses to exactly 0.1 —
    // conservative bounds must keep the file (naive parsing pruned it)
    val (df, total, live) = GraftTable.scan(spark, root, Seq(Gt("price", "0.1")))
    assert(total == 2 && live == 2,
      s"conservative float bounds must keep the pre-widen file (live=$live total=$total)")
    assert(df.filter(col("id") === 1L).count() == 1,
      "the 0.1f row matches price > 0.1 after widening")
    // pruning power survives where float rounding can't be the cause
    val (_, _, liveHi) = GraftTable.scan(spark, root, Seq(Gt("price", "1.0")))
    assert(liveHi == 1)
    // the distributed planner bounds identically
    GraftTable.setProperties(root, Map("graft.planning.distributed-threshold" -> "2"))
    GraftTable.rewriteManifests(root)
    val plan = GraftTable.planScan(spark, root, Seq(Gt("price", "0.1")))
    assert(plan.distributed && plan.liveFiles == 2,
      s"distributed planner must keep the pre-widen file (live=${plan.liveFiles})")
    assert(plan.df.filter(col("id") === 1L).count() == 1)
    assert(GraftTable.planScan(spark, root, Seq(Gt("price", "1.0"))).liveFiles == 1)
    // a FULL rewrite leaves no float-rendered stats behind: the
    // was-float stamp retires with prev-names and pruning is exact
    // again — a bound like "0.3" no longer widens to (double) 0.3f
    assert(GraftTable.tableSchema(root)("price").metadata
      .contains("graft.was-float"))
    GraftTable.rewriteDataFilesSorted(spark, root, Seq("id"))
    assert(!GraftTable.tableSchema(root)("price").metadata
      .contains("graft.was-float"), "full rewrite must retire the stamp")
    GraftTable.append(spark, root,
      Seq((4L, 0.3d)).toDF("id", "price").repartition(1))
    val (_, totalR, liveR) = GraftTable.scan(spark, root, Seq(Gt("price", "0.3")))
    assert(totalR == 2 && liveR == 1,
      s"retired stamp must restore exact bounds ((double) 0.3f > 0.3 would " +
        s"spuriously keep the file; live=$liveR total=$totalR)")
    // a float column driving the partition layout refuses to widen:
    // directory values are float-rendered text the tuple pruners
    // compare exactly
    val root2 = freshRoot("widen-float-part")
    val p1 = Seq((1L, 1.5f)).toDF("id", "price")
    GraftTable.create(spark, root2, p1.schema,
      Map(GraftTable.specProp -> "identity(price)"))
    GraftTable.append(spark, root2, p1)
    val e = intercept[IllegalArgumentException] {
      GraftTable.widenColumn(root2, "price", DoubleType)
    }
    assert(e.getMessage.contains("partition"))
  }

  test("addColumn rejects case-insensitive collisions with live and dead names") {
    import spark.implicits._
    val root = freshRoot("addcol-case")
    val df1 = Seq((1L, "aa")).toDF("id", "text")
    GraftTable.create(spark, root, df1.schema)
    GraftTable.append(spark, root, df1)
    // live-name collision is case-insensitive (Spark resolves names
    // case-insensitively by default; 'TEXT' would shadow 'text')
    assertThrows[IllegalArgumentException] {
      GraftTable.addColumn(root, org.apache.spark.sql.types.StructField(
        "TEXT", org.apache.spark.sql.types.StringType))
    }
    // historical-name collision stays refused too
    GraftTable.renameColumn(root, "text", "body")
    assertThrows[IllegalArgumentException] {
      GraftTable.addColumn(root, org.apache.spark.sql.types.StructField(
        "Text", org.apache.spark.sql.types.StringType))
    }
  }

  test("planScan applies MoR deletes and partition pruning distributed") {
    val root = freshRoot("planscan-mor")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("graft.planning.distributed-threshold" -> "2",
        GraftTable.specProp -> "identity(n_regionkey)",
        "write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n)
    GraftTable.deleteWhere(spark, root, col("n_nationkey") === 7)
    GraftTable.rewriteManifests(root)
    val plan = GraftTable.planScan(spark, root, Seq(Le("n_regionkey", "1")))
    assert(plan.distributed)
    assert(plan.liveFiles < plan.totalFiles, "partition pruning must apply distributed")
    val want = n.filter(col("n_regionkey") <= 1 && col("n_nationkey") =!= 7)
    assert(plan.df.count() == want.count())
    assert(plan.df.except(want).isEmpty)
  }

  test(".position_deletes lists live masked (file, pos) pairs; empty without MoR deletes") {
    val root = freshRoot("posdel-view")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, n)
    assert(GraftTable.positionDeletesTable(spark, root).count() == 0)
    GraftTable.deleteWhere(spark, root, col("n_nationkey") % 5 === 0)
    val rows = GraftTable.positionDeletesTable(spark, root).collect()
    assert(rows.length == 5, s"5 nations masked, got ${rows.length}")
    assert(rows.forall(_.getString(2).startsWith("deletes/")))
    // the masked positions are exactly the rows the table no longer serves
    assert(GraftTable.read(spark, root).count() == 20)
    // SQL door
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pdv")
    spark.sql("DROP TABLE IF EXISTS graft.pdv.t")
    spark.sql("""CREATE TABLE graft.pdv.t (id BIGINT)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.pdv.t SELECT id FROM range(10)")
    spark.sql("DELETE FROM graft.pdv.t WHERE id < 3")
    assert(spark.sql("SELECT * FROM graft.pdv.t.position_deletes").count() == 3)
  }

  // ── add_files: zero-copy adoption ───────────────────────────────────

  test("add_files adopts parquet by hard link + footer harvest: no rewrite, stats prune, retry no-op") {
    val root = freshRoot("addfiles")
    val srcDir = Paths.get(scratchRoot("graft-lakev2-test", "addfiles-src"))
    Files.createDirectories(srcDir)
    val n = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
    // two key-ranged source files (so the harvested stats can prune)
    n.filter(col("n_nationkey") < 12).coalesce(1)
      .write.mode("overwrite").parquet(srcDir.resolve("lo").toString)
    n.filter(col("n_nationkey") >= 12).coalesce(1)
      .write.mode("overwrite").parquet(srcDir.resolve("hi").toString)
    GraftTable.create(spark, root, n.schema)
    val (id, nf, nr) = GraftTable.addFiles(spark, root, srcDir.toString)
    assert(nf == 2L && nr == 25L)
    // zero copy: every adopted file IS the source file (same inode)
    val srcFiles = Files.walk(srcDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .filterNot(_.getFileName.toString.startsWith("_")).toSeq
    val adopted = GraftTable.state(root).files.filter(_.isData)
    assert(adopted.size == 2)
    adopted.foreach { f =>
      val p = Paths.get(root, f.path)
      assert(srcFiles.exists(s => Files.isSameFile(s, p)),
        s"adopted file must hard-link a source file: ${f.path}")
    }
    // rows read back exactly; harvested footer stats prune
    assert(GraftTable.read(spark, root).except(n).isEmpty &&
      n.except(GraftTable.read(spark, root)).isEmpty)
    val (pruned, total, live) = GraftTable.scan(spark, root, Seq(Lt("n_nationkey", "5")))
    assert(live < total, "footer-harvested stats must prune adopted files")
    assert(pruned.count() == 5)
    // row lineage was assigned at adoption
    val ids = GraftTable.readWithRowIds(spark, root).select("_row_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 25L))
    // a retried CALL is a no-op
    val (id2, nf2, _) = GraftTable.addFiles(spark, root, srcDir.toString)
    assert(nf2 == 0L && id2 == id, "a retried add_files must adopt nothing and commit nothing")
    assert(GraftTable.read(spark, root).count() == 25)
    // schema drift refuses
    val bad = Paths.get(scratchRoot("graft-lakev2-test", "addfiles-bad"))
    Tables.nation(spark, sf).select(col("n_nationkey").cast("string").as("n_nationkey"),
      col("n_name")).coalesce(1).write.mode("overwrite").parquet(bad.toString)
    intercept[IllegalArgumentException] {
      GraftTable.addFiles(spark, root, bad.toString)
    }
  }

  test("add_files refuses partitioned tables") {
    val root = freshRoot("addfiles-part")
    val n = Tables.nation(spark, sf)
    GraftTable.create(spark, root, n.schema,
      Map(GraftTable.specProp -> "identity(n_regionkey)"))
    val src = Paths.get(scratchRoot("graft-lakev2-test", "addfiles-part-src"))
    n.coalesce(1).write.mode("overwrite").parquet(src.toString)
    intercept[IllegalArgumentException] {
      GraftTable.addFiles(spark, root, src.toString)
    }
  }

  test("one-commit MoR upsert: eq-delete + data files land atomically; strict sequence rule") {
    import spark.implicits._
    val root = freshRoot("mor-upsert")
    val df0 = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "ver")
    GraftTable.create(spark, root, df0.schema,
      Map("write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root, df0)

    // ONE commit: updates keys 1,2 and inserts 4 — its own rows must
    // survive its own equality delete (the strict sequence rule)
    val id = GraftTable.upsertEqualityMoR(spark, root,
      Seq((1L, "a2", 2L), (2L, "b2", 2L), (4L, "d", 2L)).toDF("id", "v", "ver"),
      Seq("id"))
    val c = GraftTable.state(root)
    assert(c.snapshotId == id && c.operation == "upsert")
    val adds = GraftTable.state(root).files.filter(_.snapshotOfName == id)
    assert(adds.exists(_.isData) && adds.exists(_.content.contains(2)),
      s"the upsert commit must carry data AND eq-delete files, got $adds")
    def rows() = GraftTable.read(spark, root)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(rows() == Seq((1L, "a2", 2L), (2L, "b2", 2L), (3L, "c", 1L), (4L, "d", 2L)))

    // a SECOND upsert of the same key supersedes the first's row
    // (snapshot id+1 > id: the new delete reaches the old upsert file)
    GraftTable.upsertEqualityMoR(spark, root,
      Seq((1L, "a3", 3L)).toDF("id", "v", "ver"), Seq("id"))
    assert(rows() == Seq((1L, "a3", 3L), (2L, "b2", 2L), (3L, "c", 1L), (4L, "d", 2L)))

    // CDC: the first upsert is ONE boundary of per-key delete+insert
    val ch = GraftTable.changes(spark, root, id - 1, id)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(ch == Seq((1L, "a", "delete"), (1L, "a2", "insert"),
      (2L, "b", "delete"), (2L, "b2", "insert"), (4L, "d", "insert")), s"got $ch")

    // duplicate in-batch keys refuse; txn replay is a no-op
    intercept[IllegalArgumentException] {
      GraftTable.upsertEqualityMoR(spark, root,
        Seq((7L, "x", 1L), (7L, "y", 2L)).toDF("id", "v", "ver"), Seq("id"))
    }
    val head = GraftTable.latestSnapshotId(root)
    GraftTable.upsertEqualityMoR(spark, root,
      Seq((9L, "z", 1L)).toDF("id", "v", "ver"), Seq("id"),
      txn = Some(("app1", 5L)))
    assert(GraftTable.upsertEqualityMoR(spark, root,
      Seq((9L, "zz", 2L)).toDF("id", "v", "ver"), Seq("id"),
      txn = Some(("app1", 5L))) == head + 1, "replayed txn version must no-op")
    assert(rows().contains((9L, "z", 1L)) && !rows().exists(_._2 == "zz"))

    // rewrite_equality_deletes folds the standing deletes away
    GraftTable.rewriteEqualityDeletes(spark, root)
    assert(GraftTable.state(root).files.forall(f => !f.content.contains(2)))
    assert(rows().size == 5)
  }

  test("partition-aligned DELETE is metadata-only: files drop by reference, nothing is read") {
    import spark.implicits._
    val root = freshRoot("meta-delete")
    val df = (0L until 300L).map(i => (i, i % 3, s"r$i")).toDF("id", "grp", "v")
    GraftTable.create(spark, root, df.schema,
      Map(GraftTable.specProp -> "identity(grp)"))
    GraftTable.append(spark, root, df.repartition(2))
    val before = GraftTable.state(root).files.filter(_.isData)
    val g1 = before.filter(_.partitionValues.get("grp").contains("1")).map(_.path).toSet
    assert(g1.nonEmpty && g1.size < before.size)

    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraftTable.deleteWhere(spark, root, col("grp") === 1L)
      Thread.sleep(700)   // let task-end events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(bytesRead.get() == 0,
      s"a partition-aligned delete must read no data (read ${bytesRead.get()} bytes)")
    val after = GraftTable.state(root).files.filter(_.isData).map(_.path).toSet
    assert(after == before.map(_.path).toSet -- g1,
      "exactly partition grp=1's files must drop, by reference")
    assert(GraftTable.read(spark, root).count() == 200L)

    // MoR mode + an ARBITRARY partition-column expression (not even
    // pruning-convertible): still metadata — no delete files written
    val root2 = freshRoot("meta-delete-mor")
    GraftTable.create(spark, root2, df.schema,
      Map(GraftTable.specProp -> "identity(grp)",
        "write.delete.mode" -> "merge-on-read"))
    GraftTable.append(spark, root2, df.repartition(2))
    GraftTable.deleteWhereMoR(spark, root2, col("grp") % 2 === 0)
    assert(GraftTable.state(root2).files.forall(_.isData),
      "partition-aligned MoR delete must not write delete files")
    assert(GraftTable.read(spark, root2).select("grp").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(1L))

    // a predicate touching a non-partition column takes the row path
    GraftTable.deleteWhere(spark, root, col("grp") === 0L && col("id") < 10L)
    assert(GraftTable.read(spark, root).count() == 196L)
  }

  test("op alphabet under injected placement crashes: nothing half-applies, orphan sweep reclaims, retry converges") {
    // the conditional-put backend's crash story, property-style: for
    // every op class that places artifacts, kill the writer BETWEEN
    // artifact placement and the log link (placement k throws), then
    // assert (1) the table replays to the pre-op state — the
    // put-if-absent log is the only commit point, so a crash before it
    // is a non-event; (2) remove_orphan_files reclaims every stray
    // artifact and stage dir the corpse left; (3) a plain retry of the
    // op converges to the oracle. Runs through the put-style (copy +
    // delete) shim so no step can lean on rename atomicity either.
    import spark.implicits._
    val root = freshRoot("fault-inject")
    val prev = GraftTable.placeArtifact
    val counter = new java.util.concurrent.atomic.AtomicInteger
    @volatile var crashAt = Int.MaxValue
    GraftTable.placeArtifact = (src, dst) => {
      // GLOBAL hook + parallel suites in one JVM: count and crash ONLY
      // this test's own placements, or a concurrent suite's write
      // would absorb the injected crash (or be killed by it)
      if (dst.toString.startsWith(root) &&
          counter.incrementAndGet() == crashAt)
        throw new java.io.IOException("injected placement crash")
      if (dst.toString.startsWith(root)) { Files.copy(src, dst); Files.delete(src) }
      else prev(src, dst)
      ()
    }
    def arm(k: Int): Unit = { counter.set(0); crashAt = k }
    def disarm(): Unit = crashAt = Int.MaxValue
    try {
      val df0 = (0L until 120L).map(i => (i, i % 5, s"v${i % 7}")).toDF("id", "grp", "v")
      GraftTable.create(spark, root, df0.schema, Map(
        "write.delete.mode" -> "merge-on-read",
        "graft.delete.files-per-shard" -> "1",
        "graft.delete.rows-per-shard" -> "8"))
      GraftTable.append(spark, root, df0.repartition(3))
      def rows(): Vector[(Long, Long, String)] = GraftTable.read(spark, root)
        .as[(Long, Long, String)].collect().toVector.sorted
      var oracle: Vector[(Long, Long, String)] = rows()

      // (name, run the op for variant t, the variant's oracle effect) —
      // every (op, crash-point) iteration gets a fresh variant so a
      // silently-duplicated write cannot hide in set semantics
      type Frame = Vector[(Long, Long, String)]
      val alphabet: Seq[(String, Long => Unit, (Frame, Long) => Frame)] = Seq(
        ("append", t => GraftTable.append(spark, root,
          Seq((1000L + 2 * t, 0L, "new"), (1001L + 2 * t, 1L, "new"))
            .toDF("id", "grp", "v").repartition(2)),
          (o, t) => (o :+ ((1000L + 2 * t, 0L, "new"))
            :+ ((1001L + 2 * t, 1L, "new"))).sorted),
        ("mor-pos-delete", t => GraftTable.deleteWhereMoR(spark, root,
          col("id") >= 5 * t && col("id") < 5 * (t + 1)),
          (o, t) => o.filterNot(r => r._1 >= 5 * t && r._1 < 5 * (t + 1))),
        ("eq-delete", t => GraftTable.deleteEqualityMoR(spark, root,
          Seq(s"v${2 + t}").toDF("v")),
          (o, t) => o.filterNot(_._3 == s"v${2 + t}")),
        ("upsert", t => GraftTable.upsertEqualityMoR(spark, root,
          Seq((30L + t, 9L, "up"), (2000L + t, 9L, "up")).toDF("id", "grp", "v"),
          Seq("id")),
          (o, t) => (o.filterNot(_._1 == 30L + t)
            :+ ((30L + t, 9L, "up")) :+ ((2000L + t, 9L, "up"))).sorted),
        ("cow-overwrite", t => GraftTable.overwriteWhere(spark, root,
          col("id") >= 110L + 5 * t && col("id") < 115L + 5 * t),
          (o, t) => o.filterNot(r => r._1 >= 110L + 5 * t && r._1 < 115L + 5 * t)),
        ("wap-stage", t => {
          val sid = GraftTable.appendStaged(spark, root,
            Seq((3000L + t, 4L, "wap")).toDF("id", "grp", "v"),
            s"fi-${java.util.UUID.randomUUID()}")
          GraftTable.cherrypickSnapshot(root, sid)
          ()
        }, (o, t) => (o :+ ((3000L + t, 4L, "wap"))).sorted),
        ("rewrite-pos-deletes",
          _ => { GraftTable.rewritePositionDeletes(spark, root); () },
          (o, _) => o),
        ("compaction",
          _ => { GraftTable.rewriteDataFiles(spark, root); () },
          (o, _) => o))

      var vtag = 0L
      for ((name, run, effect) <- alphabet; k <- Seq(1, 2)) {
        arm(k)
        val died = scala.util.Try(run(vtag)).isFailure
        disarm()
        if (died) {
          assert(rows() == oracle,
            s"$name crash@$k: a crashed op must be a non-event")
          // the corpse's debris reclaims; afterwards nothing is orphaned
          GraftTable.removeOrphanFiles(root, System.currentTimeMillis() + 60000)
          assert(GraftTable.removeOrphanFiles(root,
            System.currentTimeMillis() + 60000, dryRun = true).isEmpty,
            s"$name crash@$k: orphan sweep must reclaim all debris")
          run(vtag)   // plain retry converges
        }
        // an op that placed fewer than k artifacts just succeeded —
        // equally valid: the crash point was past its placement count
        oracle = effect(oracle, vtag).sorted
        assert(rows() == oracle, s"$name crash@$k: retry must converge")
        vtag += 1
      }
    } finally {
      GraftTable.placeArtifact = prev
    }
  }

  test("full lifecycle through a no-rename (put-style copy+delete) placement shim") {
    // the object-store probe: a store with no rename offers only PUT
    // (here: copy) + DELETE. Every immutable artifact placement runs
    // through the shim; the commit log itself is already put-if-absent
    // (createLink). If any lifecycle step silently depended on rename
    // atomicity for correctness, this composed run would corrupt state
    // or double-apply — the reads below would diverge from the oracle.
    import spark.implicits._
    val prev = GraftTable.placeArtifact
    val placed = new java.util.concurrent.atomic.AtomicInteger
    GraftTable.placeArtifact = (src, dst) => {
      Files.copy(src, dst)
      Files.delete(src)
      placed.incrementAndGet()
      ()
    }
    try {
      val root = freshRoot("no-rename")
      val df0 = (0L until 200L).map(i => (i, s"v${i % 9}")).toDF("id", "v")
      GraftTable.create(spark, root, df0.schema,
        Map("write.delete.mode" -> "merge-on-read"))
      GraftTable.append(spark, root, df0.repartition(3))
      // MoR position + equality deletes, then a CoW overwrite
      GraftTable.deleteWhereMoR(spark, root, col("id") % 10 === 0)
      GraftTable.deleteEqualityMoR(spark, root, Seq("v3").toDF("v"))
      GraftTable.overwriteWhere(spark, root, col("id") >= 190L)
      // WAP stage + publish, maintenance rewrites, snapshot expiry
      val staged = GraftTable.appendStaged(spark, root,
        Seq((500L, "staged")).toDF("id", "v"), "shim_wap")
      GraftTable.cherrypickSnapshot(root, staged)
      GraftTable.rewritePositionDeletes(spark, root)
      GraftTable.rewriteDataFiles(spark, root)
      val oracle = ((0L until 200L)
        .filterNot(_ % 10 == 0).filterNot(i => i % 9 == 3 && i % 10 != 0)
        .filterNot(_ >= 190L) :+ 500L).sorted
      assert(GraftTable.read(spark, root)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq == oracle)
      assert(placed.get() > 5, s"the shim must have carried the writes (${placed.get()})")
      // time travel across the composed history still replays cleanly
      assert(GraftTable.read(spark, root, Some(1L)).count() == 200L)
    } finally GraftTable.placeArtifact = prev
  }
}
