package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.lake.GraftTable

/** Cross-table atomic transactions — Nessie's headline capability
  * (multi-table commits; reference: the Nessie service in
  * docker-compose.yml) on graft's linear logs: writes stage as
  * invisible WAP-style commits carrying a decision-file path, and ONE
  * put-if-absent decision write flips every table's staged commits
  * into main lineage at the same instant. All-or-nothing across
  * tables with no per-table publish step to crash between. */
class TxnSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = scratchRoot("txn-spec", name)
  private def txnDir(name: String): String = scratchRoot("txn-spec", s"$name-txns")

  private def mk(root: String, rows: Seq[(Long, String)]): Unit = {
    GraftTable.create(spark, root,
      rows.toDF("id", "v").schema)
    if (rows.nonEmpty) GraftTable.append(spark, root, rows.toDF("id", "v"))
  }

  test("commit makes N tables' staged changes visible atomically; abort never does") {
    val (r1, r2) = (freshRoot("a1"), freshRoot("a2"))
    mk(r1, Seq((1L, "base")))
    mk(r2, Seq((10L, "base")))
    val t = GraftTable.beginTransaction(txnDir("a"))
    t.append(spark, r1, Seq((2L, "txn")).toDF("id", "v"))
    t.append(spark, r2, Seq((20L, "txn")).toDF("id", "v"))
    t.append(spark, r2, Seq((21L, "txn")).toDF("id", "v"))   // stages stack
    // invisible everywhere before the decision
    assert(GraftTable.read(spark, r1).count() == 1L)
    assert(GraftTable.read(spark, r2).count() == 1L)
    t.commit()
    assert(GraftTable.read(spark, r1).as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (2L, "txn")))
    assert(GraftTable.read(spark, r2).as[(Long, String)].collect().toSet ==
      Set((10L, "base"), (20L, "txn"), (21L, "txn")))
    // the CDC feed serves the transaction's rows (no latched-past gap:
    // the stages were the tail when the decision landed)
    val feed = GraftTable.changes(spark, r2, 1L, GraftTable.state(r2).snapshotId)
    assert(feed.filter(col("_change_type") === "insert").count() == 2L)
    // further writes proceed normally on both tables
    GraftTable.append(spark, r1, Seq((3L, "after")).toDF("id", "v"))
    assert(GraftTable.read(spark, r1).count() == 3L)

    // abort: a second transaction stages and retires without a trace
    val t2 = GraftTable.beginTransaction(txnDir("a"))
    t2.append(spark, r1, Seq((9L, "never")).toDF("id", "v"))
    t2.append(spark, r2, Seq((99L, "never")).toDF("id", "v"))
    t2.abort()
    assert(GraftTable.read(spark, r1).filter(col("id") === 9).count() == 0L)
    assert(GraftTable.read(spark, r2).filter(col("id") === 99).count() == 0L)
    // the decided handle refuses further use; tables accept new writes
    intercept[IllegalArgumentException] {
      t2.append(spark, r1, Seq((5L, "x")).toDF("id", "v"))
    }
    GraftTable.append(spark, r2, Seq((30L, "after")).toDF("id", "v"))
    assert(GraftTable.read(spark, r2).count() == 4L)
  }

  test("a committed transaction leaves no per-commit marker in main's properties") {
    val root = freshRoot("markers")
    mk(root, Seq((1L, "base")))
    val t = GraftTable.beginTransaction(txnDir("markers"))
    t.append(spark, root, Seq((2L, "txn")).toDF("id", "v"))
    t.commit()
    val markers = Set(GraftTable.wapStagedProp, GraftTable.wapIdProp,
      "graft.txn.decision", "graft.branch.name", "graft.branch.base")
    def leaked(): Set[String] =
      GraftTable.state(root).properties.keySet.intersect(markers) ++
        GraftTable.propertiesTable(spark, root).as[(String, String)].collect()
          .map(_._1).toSet.intersect(markers)
    assert(leaked().isEmpty, s"main reports per-commit markers: ${leaked()}")
    // the next append lands on main, not off-lineage
    val next = GraftTable.append(spark, root, Seq((3L, "after")).toDF("id", "v"))
    assert(GraftTable.state(root).snapshotId === next)
    assert(GraftTable.read(spark, root).count() === 3L)
    // a checkpoint seeds later replays with the same header
    GraftTable.rewriteManifests(root)
    assert(leaked().isEmpty, s"checkpointed main reports markers: ${leaked()}")
  }

  test("row-level op in a transaction: delete + append commit together; ordering rule is loud") {
    val (r1, r2) = (freshRoot("b1"), freshRoot("b2"))
    mk(r1, Seq((1L, "keep"), (2L, "drop")))
    mk(r2, Seq((10L, "base")))
    val t = GraftTable.beginTransaction(txnDir("b"))
    t.deleteWhere(spark, r1, col("v") === "drop")
    t.append(spark, r1, Seq((3L, "txn")).toDF("id", "v"))   // append AFTER delete: fine
    t.append(spark, r2, Seq((20L, "txn")).toDF("id", "v"))
    assert(GraftTable.read(spark, r1).count() == 2L, "staged delete must be invisible")
    t.commit()
    assert(GraftTable.read(spark, r1).as[(Long, String)].collect().toSet ==
      Set((1L, "keep"), (3L, "txn")))
    assert(GraftTable.read(spark, r2).count() == 2L)
    // a row-level op AFTER an append on the same table refuses — it
    // would plan against pre-transaction state and miss the append
    val t2 = GraftTable.beginTransaction(txnDir("b"))
    t2.append(spark, r1, Seq((4L, "x")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      t2.deleteWhere(spark, r1, col("id") === 4L)
    }
    assert(e.getMessage.contains("FIRST"), s"unexpected: ${e.getMessage}")
    t2.abort()
  }

  test("foreign pending stages refuse; main data writes block until the decision") {
    val r = freshRoot("c1")
    mk(r, Seq((1L, "base")))
    val t1 = GraftTable.beginTransaction(txnDir("c"))
    t1.append(spark, r, Seq((2L, "t1")).toDF("id", "v"))
    // another transaction cannot interleave on the same table
    val t2 = GraftTable.beginTransaction(txnDir("c"))
    val e1 = intercept[IllegalArgumentException] {
      t2.append(spark, r, Seq((3L, "t2")).toDF("id", "v"))
    }
    assert(e1.getMessage.contains("pending"), s"unexpected: ${e1.getMessage}")
    // a plain main write blocks on the pending stage (the WAP slot rule)
    intercept[IllegalStateException] {
      GraftTable.append(spark, r, Seq((4L, "main")).toDF("id", "v"))
    }
    t1.commit()
    // after the decision both proceed
    t2.append(spark, r, Seq((3L, "t2")).toDF("id", "v"))
    t2.commit()
    GraftTable.append(spark, r, Seq((4L, "main")).toDF("id", "v"))
    assert(GraftTable.read(spark, r).count() == 4L)
  }

  test("optimistic concurrency: a commit that lands above the stages refuses the transaction") {
    val r = freshRoot("d1")
    mk(r, Seq((1L, "base")))
    val t = GraftTable.beginTransaction(txnDir("d"))
    t.append(spark, r, Seq((2L, "txn")).toDF("id", "v"))
    // a metadata commit slips in above the stage (property commits
    // land at the raw head and never block)
    GraftTable.setProperties(r, Map("owner" -> "someone"))
    val e = intercept[IllegalArgumentException] { t.commit() }
    assert(e.getMessage.contains("advanced past"), s"unexpected: ${e.getMessage}")
    t.abort()
    assert(GraftTable.read(spark, r).count() == 1L)
    GraftTable.append(spark, r, Seq((3L, "after")).toDF("id", "v"))
    assert(GraftTable.read(spark, r).count() == 2L)
  }

  test("crash between decision and seal: fresh state is committed; recoverTransactions completes the seals") {
    val (r1, r2) = (freshRoot("e1"), freshRoot("e2"))
    mk(r1, Seq((1L, "base")))
    mk(r2, Seq((10L, "base")))
    val t = GraftTable.beginTransaction(txnDir("e"))
    t.append(spark, r1, Seq((2L, "txn")).toDF("id", "v"))
    t.append(spark, r2, Seq((20L, "txn")).toDF("id", "v"))
    // simulate the crash: the decision file lands but commit() (and
    // its seals) never runs — write the decision by hand
    Files.writeString(Paths.get(t.txnDir, s"${t.id}.decision"), "committed")
    // recovery completes the seals; afterwards every reader sees the
    // transaction on both tables
    GraftTable.recoverTransactions(r1)
    GraftTable.recoverTransactions(r2)
    assert(GraftTable.read(spark, r1).as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (2L, "txn")))
    assert(GraftTable.read(spark, r2).as[(Long, String)].collect().toSet ==
      Set((10L, "base"), (20L, "txn")))
    // idempotent
    assert(GraftTable.recoverTransactions(r1).size <= 1)
    GraftTable.append(spark, r1, Seq((3L, "after")).toDF("id", "v"))
    assert(GraftTable.read(spark, r1).count() == 3L)
  }

  test("racing commit() and abort() on one decision file: exactly one verdict wins") {
    // the protocol's heart is decide()'s put-if-absent: whichever of
    // commit/abort creates the file first wins, the loser throws, and
    // replay everywhere agrees with the single verdict. Race them on
    // REAL threads across many rounds.
    for (round <- 0 until 8) {
      val (r1, r2) = (freshRoot(s"r$round-1"), freshRoot(s"r$round-2"))
      mk(r1, Seq((1L, "base")))
      mk(r2, Seq((10L, "base")))
      val t = GraftTable.beginTransaction(txnDir(s"race$round"))
      t.append(spark, r1, Seq((2L, "txn")).toDF("id", "v"))
      t.append(spark, r2, Seq((20L, "txn")).toDF("id", "v"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def racer(name: String)(body: => Unit) = new Thread(() => {
        gate.await()
        try { body; outcomes.add(s"$name-won") }
        catch { case _: IllegalStateException => outcomes.add(s"$name-lost") }
      }, name)
      // race the RAW decide calls (the GraftTransaction handle is
      // single-writer by contract; the decision file is the shared state)
      val dp = java.nio.file.Paths.get(t.txnDir, s"${t.id}.decision").toString
      val ths = Seq(
        racer("commit") { GraftTable.decide(dp, "committed") },
        racer("abort") { GraftTable.decide(dp, "aborted") })
      ths.foreach(_.start()); gate.countDown(); ths.foreach(_.join())
      val res = outcomes.toArray.map(_.toString).toSet
      assert(res == Set("commit-won", "abort-lost") ||
        res == Set("abort-won", "commit-lost"), s"round $round: $res")
      // replay agrees with the single verdict on BOTH tables
      val committed = res.contains("commit-won")
      val n1 = GraftTable.read(spark, r1).count()
      val n2 = GraftTable.read(spark, r2).count()
      if (committed) assert(n1 == 2L && n2 == 2L, s"round $round: $n1/$n2")
      else {
        assert(n1 == 1L && n2 == 1L, s"round $round: $n1/$n2")
        // abandoned markers land via recovery so main writes unblock
        GraftTable.recoverTransactions(r1)
        GraftTable.recoverTransactions(r2)
        GraftTable.append(spark, r1, Seq((3L, "after")).toDF("id", "v"))
        assert(GraftTable.read(spark, r1).count() == 2L)
      }
    }
  }

  test("consistentSnapshot pins all-or-nothing read points across tables") {
    val (r1, r2) = (freshRoot("c2a"), freshRoot("c2b"))
    mk(r1, Seq((1L, "base")))
    mk(r2, Seq((10L, "base")))
    val t = GraftTable.beginTransaction(txnDir("cs"))
    t.append(spark, r1, Seq((2L, "txn")).toDF("id", "v"))
    t.append(spark, r2, Seq((20L, "txn")).toDF("id", "v"))
    // pins taken while the txn is PENDING exclude it on BOTH tables —
    // even read AFTER the decision lands (stages sit above the heads)
    val pre = GraftTable.consistentSnapshot(Seq(r1, r2))
    t.commit()
    assert(GraftTable.read(spark, r1, Some(pre(r1))).count() == 1L,
      "a pre-decision pin must exclude the txn everywhere, even post-commit")
    assert(GraftTable.read(spark, r2, Some(pre(r2))).count() == 1L)
    // pins taken after the decision include it on BOTH tables
    val post = GraftTable.consistentSnapshot(Seq(r1, r2))
    assert(GraftTable.read(spark, r1, Some(post(r1))).count() == 2L)
    assert(GraftTable.read(spark, r2, Some(post(r2))).count() == 2L)
    // a decision landing between the two capture passes moves the head
    // (no new commit file needed) — that is the retry signal
    val t2 = GraftTable.beginTransaction(txnDir("cs"))
    t2.append(spark, r1, Seq((3L, "t2")).toDF("id", "v"))
    val h1 = GraftTable.state(r1).snapshotId
    t2.commit()
    assert(GraftTable.state(r1).snapshotId != h1,
      "an in-place decision must move the main head")
  }

  test("consistentSnapshot lands under a continuously-appending competitor (jittered backoff)") {
    val (r1, r2) = (freshRoot("cw1"), freshRoot("cw2"))
    mk(r1, Seq((1L, "base")))
    mk(r2, Seq((10L, "base")))
    // a writer thread appending to BOTH tables back-to-back for the
    // whole call window: raw double-capture would keep observing moved
    // heads; the backed-off capture pair must still find an equal
    // bracket without the caller adding its own retry loop
    @volatile var stop = false
    val writer = new Thread(() => {
      var i = 100L
      while (!stop) {
        GraftTable.append(spark, r1, Seq((i, "w")).toDF("id", "v"))
        GraftTable.append(spark, r2, Seq((i, "w")).toDF("id", "v"))
        i += 1
      }
    })
    writer.start()
    try {
      val pin = GraftTable.consistentSnapshot(Seq(r1, r2))
      // the pin is a real all-or-nothing point: both ids resolve and
      // time-travel reads at them succeed
      assert(GraftTable.read(spark, r1, Some(pin(r1))).count() >= 1L)
      assert(GraftTable.read(spark, r2, Some(pin(r2))).count() >= 1L)
    } finally { stop = true; writer.join() }
  }

  test("CALL graft_system.consistent_snapshot pins SQL-readable ids across tables") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.txnsql")
    spark.sql("DROP TABLE IF EXISTS graft.txnsql.a")
    spark.sql("DROP TABLE IF EXISTS graft.txnsql.b")
    spark.sql("CREATE TABLE graft.txnsql.a (id BIGINT, v STRING)")
    spark.sql("CREATE TABLE graft.txnsql.b (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.txnsql.a VALUES (1, 'x')")
    spark.sql("INSERT INTO graft.txnsql.b VALUES (2, 'y'), (3, 'z')")
    val rows = spark.sql(
      "CALL graft_system.consistent_snapshot(tables => 'txnsql.a,txnsql.b')")
      .collect().map(_.getString(0))
    assert(rows.length == 2, rows.mkString(", "))
    val pins = rows.map { s =>
      val Array(t, id) = s.split("="); t -> id.toLong
    }.toMap
    // the pinned ids time-travel through the SQL door
    assert(spark.sql(
      s"SELECT * FROM graft.txnsql.a VERSION AS OF ${pins("txnsql.a")}")
      .count() == 1L)
    assert(spark.sql(
      s"SELECT * FROM graft.txnsql.b VERSION AS OF ${pins("txnsql.b")}")
      .count() == 2L)
    // writes after the pin never leak into pinned reads
    spark.sql("INSERT INTO graft.txnsql.a VALUES (9, 'later')")
    assert(spark.sql(
      s"SELECT * FROM graft.txnsql.a VERSION AS OF ${pins("txnsql.a")}")
      .count() == 1L)
  }

  test("sealed tables are self-contained: committed txns survive losing the decision dir") {
    val (r1, r2) = (freshRoot("m1"), freshRoot("m2"))
    mk(r1, Seq((1L, "base")))
    mk(r2, Seq((10L, "base")))
    val td = txnDir("m")
    val t = GraftTable.beginTransaction(td)
    t.append(spark, r1, Seq((2L, "txn")).toDF("id", "v"))
    t.append(spark, r2, Seq((20L, "txn")).toDF("id", "v"))
    t.commit()   // seals both tables (decision mirrored into each log)
    // the external decision dir is retired AND the in-memory memo
    // dropped: visibility must now come from the per-table mirrors
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(td))
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
    GraftTable.clearDecisionMemoForTest()
    assert(GraftTable.read(spark, r1).count() == 2L,
      "committed txn must stay visible without the decision dir")
    assert(GraftTable.read(spark, r2).count() == 2L)
    // and the feed still serves the committed rows
    assert(GraftTable.changes(spark, r1, 1L, GraftTable.state(r1).snapshotId)
      .filter(col("_change_type") === "insert").count() == 1L)
  }

  test("expire_snapshots retires mirrors of fully-expired txns; live ones survive") {
    val r = freshRoot("x1")
    mk(r, Seq((1L, "base")))
    val t = GraftTable.beginTransaction(txnDir("x"))
    t.append(spark, r, Seq((2L, "txn")).toDF("id", "v"))
    t.commit()
    def mirrors() = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(r, "_graft_log"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("txn-") && n.endsWith(".decision")).toVector
      finally s.close()
    }
    assert(mirrors().size == 1, "the seal must have mirrored the verdict")
    // more history, then expire: while the txn commit is retained the
    // mirror survives; once expired past it, the mirror retires too
    GraftTable.append(spark, r, Seq((3L, "a")).toDF("id", "v"))
    GraftTable.expireSnapshots(r, 10)
    assert(mirrors().size == 1)
    GraftTable.append(spark, r, Seq((4L, "b")).toDF("id", "v"))
    GraftTable.expireSnapshots(r, 1)
    assert(mirrors().isEmpty, "expired txn's mirror must retire")
    assert(GraftTable.read(spark, r).count() == 4L,
      "visibility folded into the checkpoint before the mirror retired")
  }

  test("txn stages are fenced off the WAP publish/abandon doors; WAP pending blocks txn staging") {
    val r = freshRoot("f1")
    mk(r, Seq((1L, "base")))
    GraftTable.setProperties(r, Map("write.wap.enabled" -> "true"))
    val t = GraftTable.beginTransaction(txnDir("f"))
    val sid = t.append(spark, r, Seq((2L, "txn")).toDF("id", "v"))
    val e1 = intercept[IllegalArgumentException] {
      GraftTable.cherrypickSnapshot(r, sid)
    }
    assert(e1.getMessage.contains("transaction"), s"unexpected: ${e1.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.abandonStagedSnapshot(r, sid)
    }
    assert(e2.getMessage.contains("transaction"), s"unexpected: ${e2.getMessage}")
    t.abort()
    // WAP stage pending → txn staging refuses (one pending group rule)
    val wapId = GraftTable.appendStaged(spark, r,
      Seq((5L, "wap")).toDF("id", "v"), "audit-1")
    val t2 = GraftTable.beginTransaction(txnDir("f"))
    val e3 = intercept[IllegalArgumentException] {
      t2.append(spark, r, Seq((6L, "txn")).toDF("id", "v"))
    }
    assert(e3.getMessage.contains("pending"), s"unexpected: ${e3.getMessage}")
    GraftTable.cherrypickSnapshot(r, wapId)
    t2.append(spark, r, Seq((6L, "txn")).toDF("id", "v"))
    t2.commit()
    assert(GraftTable.read(spark, r).as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (5L, "wap"), (6L, "txn")))
  }

  test("catalog branch: fork N tables at one pin, merge all through one decision; crash between stage and decision publishes nothing") {
    import graft.lake.GraftCatalogBranch
    val (r1, r2) = (freshRoot("g1"), freshRoot("g2"))
    val dir = txnDir("g")
    mk(r1, Seq((1L, "base")))
    mk(r2, Seq((10L, "base")))
    GraftCatalogBranch.create(dir, "release", Seq(r1, r2))
    // branch writes on both; a branch delete on one
    GraftCatalogBranch.append(spark, dir, "release", r1,
      Seq((2L, "br")).toDF("id", "v"))
    GraftCatalogBranch.append(spark, dir, "release", r2,
      Seq((20L, "br"), (21L, "drop-me")).toDF("id", "v"))
    GraftCatalogBranch.deleteWhere(spark, dir, "release", r2, col("id") === 21L)
    // main diverges on r1 with a commuting append
    GraftTable.append(spark, r1, Seq((3L, "main")).toDF("id", "v"))
    assert(GraftTable.read(spark, r1).count() == 2L &&
      GraftTable.read(spark, r2).count() == 1L,
      "branch work must be invisible to main on every member")
    assert(GraftCatalogBranch.read(spark, dir, "release", r2)
      .as[(Long, String)].collect().toSet == Set((10L, "base"), (20L, "br")))

    // CRASH between stage and decision: stages exist, decision absent —
    // NOTHING is visible on any member (no torn namespace)
    val crash = intercept[GraftCatalogBranch.MergeCrash] {
      GraftCatalogBranch.merge(spark, dir, "release", crashBeforeDecide = true)
    }
    assert(crash.staged.size == 2, s"both members staged: ${crash.staged}")
    assert(GraftTable.read(spark, r1).count() == 2L &&
      GraftTable.read(spark, r2).count() == 1L,
      "undecided stages must stay invisible everywhere")
    // resolve the crash: abort retires the stages, branch work survives
    GraftCatalogBranch.abortMerge(crash.decisionPath, crash.staged)
    assert(GraftTable.read(spark, r1).count() == 2L &&
      GraftTable.read(spark, r2).count() == 1L)
    assert(GraftCatalogBranch.read(spark, dir, "release", r1)
      .filter(col("v") === "br").count() == 1L,
      "the branch work must survive an aborted merge for retry")

    // clean retry: ONE decision publishes BOTH members atomically
    val published = GraftCatalogBranch.merge(spark, dir, "release")
    assert(published.keySet == Set(r1, r2))
    assert(GraftTable.read(spark, r1).as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (2L, "br"), (3L, "main")))
    assert(GraftTable.read(spark, r2).as[(Long, String)].collect().toSet ==
      Set((10L, "base"), (20L, "br")))
    // published ids are the members' current heads... and the branch
    // refs advanced to them (fresh epoch), so work can continue
    published.foreach { case (r, id) =>
      assert(GraftTable.branches(r)("release") == id,
        s"$r: branch ref must advance to the publish id $id")
    }
    // descriptor retired; per-table writes proceed normally
    assert(!GraftCatalogBranch.exists(dir, "release"))
    GraftTable.append(spark, r2, Seq((30L, "after")).toDF("id", "v"))
    assert(GraftTable.read(spark, r2).count() == 3L)
  }

  test("catalog branch merge: a member that advanced past its stage refuses the WHOLE merge; row-conflict on one member publishes neither") {
    import graft.lake.GraftCatalogBranch
    val (r1, r2) = (freshRoot("h1"), freshRoot("h2"))
    val dir = txnDir("h")
    // both rows in ONE file: the conflict is two sides rewriting the
    // same file, so the victims must share one
    GraftTable.create(spark, r1, Seq((1L, "x")).toDF("id", "v").schema)
    GraftTable.append(spark, r1,
      Seq((1L, "keep"), (2L, "victim")).toDF("id", "v").coalesce(1))
    mk(r2, Seq((10L, "base")))
    GraftCatalogBranch.create(dir, "hot", Seq(r1, r2))
    // r1's branch rewrites a file (CoW delete); main then rewrites the
    // SAME file — a genuine row-level conflict on ONE member
    GraftCatalogBranch.deleteWhere(spark, dir, "hot", r1, col("id") === 2L)
    GraftCatalogBranch.append(spark, dir, "hot", r2,
      Seq((20L, "br")).toDF("id", "v"))
    GraftTable.overwriteWhere(spark, r1, col("id") === 1L)
    val e = intercept[IllegalArgumentException] {
      GraftCatalogBranch.merge(spark, dir, "hot")
    }
    assert(e.getMessage.contains("both main and the branch"),
      s"unexpected: ${e.getMessage}")
    // neither member published — r2's clean work is NOT half-applied
    assert(GraftTable.read(spark, r2).count() == 1L,
      "a one-member conflict must refuse the whole catalog merge")
    // r1 serves main's own state: the overwrite dropped id=1, the
    // branch's delete of id=2 never published
    assert(GraftTable.read(spark, r1).as[(Long, String)].collect().toSet ==
      Set((2L, "victim")))
    // the aborted stages unblock future writes on the clean member
    GraftTable.append(spark, r2, Seq((11L, "after")).toDF("id", "v"))
    assert(GraftTable.read(spark, r2).count() == 2L)
  }
}
