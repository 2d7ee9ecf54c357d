package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.lake.{GraftS3, GraftS3Server, GraftTable, LakeStore}
import graft.lake.GraftS3.Credentials

/** Writer-side bounded disk — the WRITE twin of the lazy follower
  * (reference: spark-defaults.conf writes `warehouse=s3a://…`; no node
  * in its compose file holds a local lake copy): a writer mounting
  * arbiter + mirror + a BUDGETED hydration mount on one root keeps its
  * local data bytes under the budget across a whole ingest lifecycle.
  * The safety line is the commit protocol itself: an artifact becomes
  * evictable only after the commit that references it WON its slot —
  * by then the pre-slot barrier has made it durably remote — and the
  * sweep still refuses to delete any file whose remote twin can't be
  * size-confirmed (never the only copy). Reads re-serve evicted
  * artifacts through the same mount's on-demand hydration plane. */
class S3BoundedWriterSpec extends SparkSpec {
  import spark.implicits._

  private val creds = Credentials("GRAFTKEY", "graft-bounded-secret")

  /** Incompressible payloads: parquet can't deflate them, so byte
    * budgets measure real transfer/disk, not encoder luck —
    * localDataBytes and padRows live in SparkSpec (one shared copy). */
  private def rows(n: Int, seed: Long) = padRows(n, seed)

  test("a budget below total written bytes holds across append + CoW delete + " +
      "compaction: local data bytes fit at every commit boundary, eviction is real, " +
      "and the read-back round-trips through re-hydration hash-correct") {
    val em = new GraftS3Server("graft-bounded-w", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"wh-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c)
    var unH: AutoCloseable = null
    try {
      val tbl = wh.resolve("ns").resolve("t")
      val all = rows(2400, 7L)
      val df = all.toDF("id", "p", "payload")
      GraftTable.create(spark, tbl.toString, df.schema)
      (0 until 4).foreach(k => GraftTable.append(spark, tbl.toString,
        all.filter(_._1 % 4 == k).toDF("id", "p", "payload").coalesce(1)))
      // the ingest so far — the budget sits UNDER what the rest of the
      // lifecycle will have written in total, but above one op's
      // working set (the documented sizing rule, same as the follower)
      val appendBytes = localDataBytes(wh)
      val budget = (appendBytes * 0.8).toLong
      unH = GraftS3.mountOnDemandHydration(wh, c, maxLocalBytes = Some(budget))
      val appendFiles = GraftTable.liveDataFiles(tbl.toString, Seq.empty)
        .map(_.path).toSet

      // CoW delete rewrites every file (id % 3 is in all of them): the
      // pre-delete generation becomes cache and must evict at commit.
      // A 503 burst rides along — the throttles land across the
      // rewrite's mirror uploads, the commit's conditional PUT, and
      // the sweep's size-confirmation probes, and every one of them
      // must absorb it (a failed CONFIRMATION merely defers that
      // file's eviction; it must never delete or abort)
      em.throttleNext.set(3)
      GraftTable.deleteWhere(spark, tbl.toString, col("id") % 3 === 0)
      assert(em.throttled.get >= 3, "the throttle burst must fire")
      assert(localDataBytes(wh) <= budget,
        s"post-delete local bytes ${localDataBytes(wh)} must fit $budget")
      val evictedAppends = appendFiles.filter(p => !Files.exists(tbl.resolve(p)))
      assert(evictedAppends.nonEmpty,
        "eviction must be real: some pre-delete files are locally gone")
      evictedAppends.foreach(p => assert(c.sizeOf(s"ns/t/$p").isDefined,
        s"an evicted file's remote twin must exist: $p"))

      GraftTable.rewriteDataFiles(spark, tbl.toString,
        targetFileSizeBytes = 64L * 1024 * 1024)
      assert(localDataBytes(wh) <= budget,
        s"post-compaction local bytes ${localDataBytes(wh)} must fit $budget")

      // total mirrored data bytes dwarf the budget — the claim under
      // test: the lifecycle WROTE far more than it ever held locally
      val remoteData = c.listWithSizes("ns/t/data/").map(_._2).sum
      assert(remoteData > budget * 2,
        s"the lifecycle wrote $remoteData remotely against a $budget budget")

      // evict everything confirmable and read back: the read hydrates
      // the live set on demand and the answer is exact
      GraftS3.evictLocalData(tbl, c, "ns/t")
      val expected = all.filterNot(_._1 % 3 == 0).toSet
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == expected, "the bounded writer's table reads back exact")
      assert(localDataBytes(wh) <= budget,
        s"post-read local bytes ${localDataBytes(wh)} must fit $budget")
      assert(em.rejected.get == 0)
    } finally {
      if (unH != null) unH.close()
      unM.close(); unA.close(); em.close()
    }
  }

  test("an eviction backlog confirms remote twins off list PAGES, not per-file " +
      "probes: a commit adding many files sweeps them in O(pages) server requests") {
    val em = new GraftS3Server("graft-bounded-batch", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"batch-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c)
    var unH: AutoCloseable = null
    try {
      val tbl = wh.resolve("ns").resolve("t")
      val all = rows(2400, 19L)
      GraftTable.create(spark, tbl.toString, all.toDF("id", "p", "payload").schema)
      // 12 one-file commits build a 12-file COMMITTED backlog before
      // any budget exists (intra-op backpressure can't have drained
      // it); the census then tracks all 12 and the NEXT commit's sweep
      // faces the genuine N-candidate case
      (0 until 12).foreach { k =>
        GraftTable.append(spark, tbl.toString,
          all.filter(_._1 % 13 == k).toDF("id", "p", "payload").coalesce(1))
      }
      val oneChunk = localDataBytes(wh) / 12
      val budget = math.max(1L, oneChunk / 2)
      unH = GraftS3.mountOnDemandHydration(wh, c, maxLocalBytes = Some(budget))
      val probes0 = em.getRequests.asScala.count { case (k, r) =>
        k.startsWith("ns/t/data/") && r == "bytes=0-0" }
      val lists0 = em.listCalls.get
      GraftTable.append(spark, tbl.toString,
        all.filter(_._1 % 13 == 12).toDF("id", "p", "payload").coalesce(1))
      val live = GraftTable.liveDataFiles(tbl.toString, Seq.empty).map(_.path)
      val evicted = live.count(p => !Files.exists(tbl.resolve(p)))
      assert(evicted >= 8, s"the sweep must evict a real backlog (evicted $evicted)")
      val probes = em.getRequests.asScala.count { case (k, r) =>
        k.startsWith("ns/t/data/") && r == "bytes=0-0" } - probes0
      // each confirm round's smallest candidate probes by design (the
      // exclusive start-after excludes it from its own page walk), and
      // a candidate vanishing mid-sweep can add a round — the claim is
      // O(pages)+O(rounds), far under the 13-candidate count
      assert(probes <= 4,
        s"size confirmation rides the list page, not per-file probes (saw $probes)")
      assert(em.listCalls.get > lists0,
        "the sweep's confirmation listed the candidates' dir")
      assert(localDataBytes(wh) <= budget)
      assert(em.rejected.get == 0)
    } finally {
      if (unH != null) unH.close()
      unM.close(); unA.close(); em.close()
    }
  }

  test("intra-op backpressure: ONE append far larger than the budget keeps PLACED " +
      "local data bytes bounded by the in-flight file pair — eviction paces the " +
      "placements, not just the commit boundary") {
    val em = new GraftS3Server("graft-bounded-pipe", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"pipe-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c)
    // budget 0, mounted BEFORE any write: the harshest single-giant-op
    // case — the whole 12-file write set exceeds the budget, and
    // without backpressure the placed set would sit on disk until the
    // commit boundary
    val unH = GraftS3.mountOnDemandHydration(wh, c, maxLocalBytes = Some(0L))
    try {
      val tbl = wh.resolve("ns").resolve("t")
      val all = rows(2400, 59L)
      GraftTable.create(spark, tbl.toString, all.toDF("id", "p", "payload").schema)
      // poller samples the placed (data/deletes) bytes DURING the op;
      // the stage dir is the op's scratch, deliberately out of scope
      // (direct-write staging removes it entirely)
      val peak = new java.util.concurrent.atomic.AtomicLong()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val poller = new Thread(() => {
        while (!stop.get) {
          val now = localDataBytes(wh)
          peak.getAndUpdate(math.max(_, now))
          Thread.sleep(1)
        }
      })
      poller.setDaemon(true); poller.start()
      GraftTable.append(spark, tbl.toString,
        all.toDF("id", "p", "payload").repartition(12))
      stop.set(true); poller.join()
      val sizes = GraftTable.liveDataFiles(tbl.toString, Seq.empty).map(_.sizeBytes)
      assert(sizes.size >= 10, s"the op must be genuinely multi-file: ${sizes.size}")
      val maxFile = sizes.max
      // the deterministic bound: placements are sequential on the
      // publishing thread and each placement's backpressure evicts the
      // previous sibling before returning — at most (previous mid-
      // eviction + just-placed) are ever on disk together
      assert(peak.get <= 2 * maxFile,
        s"placed bytes peaked at ${peak.get} — over the budget+pair bound " +
          s"(${2 * maxFile}) for a ${sizes.sum}-byte write set")
      assert(peak.get < sizes.sum / 2,
        "the bound is meaningfully below the write set itself")
      assert(localDataBytes(wh) == 0L, "budget 0: the commit sweep clears the rest")
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.toSet, "the backpressured append reads back exact")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("mount-time census: a budgeted mount over a warehouse that ALREADY holds " +
      "local data counts the pre-existing bytes and enforces the budget on its " +
      "first sweep, oldest files first") {
    val em = new GraftS3Server("graft-bounded-census", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"census-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c)
    var unH: AutoCloseable = null
    try {
      val tbl = wh.resolve("ns").resolve("t")
      val all = rows(2400, 23L)
      GraftTable.create(spark, tbl.toString, all.toDF("id", "p", "payload").schema)
      def liveSet(): Set[String] =
        GraftTable.liveDataFiles(tbl.toString, Seq.empty).map(_.path).toSet
      var prev = Set.empty[String]
      val chunks = (0 until 3).map { k =>
        GraftTable.append(spark, tbl.toString,
          all.filter(_._1 % 4 == k).toDF("id", "p", "payload").coalesce(1))
        val f = (liveSet() -- prev).head; prev += f; f
      }
      val preBytes = localDataBytes(wh)
      val budget = (preBytes * 0.55).toLong   // ≈ 1.6 of the 3 chunks
      // the re-mount: a budgeted writer over a POPULATED warehouse —
      // without the census, these three chunks would be invisible to
      // the LRU and the budget silently exceeded
      unH = GraftS3.mountOnDemandHydration(wh, c, maxLocalBytes = Some(budget))
      val stats0 = GraftS3.cacheStats(wh).get
      assert(stats0.trackedBytes == preBytes,
        s"census must count the pre-existing bytes: ${stats0.trackedBytes} vs $preBytes")
      // first sweep = the next commit's trackMirrored
      GraftTable.append(spark, tbl.toString,
        all.filter(_._1 % 4 == 3).toDF("id", "p", "payload").coalesce(1))
      assert(localDataBytes(wh) <= budget,
        s"first sweep enforces the budget: ${localDataBytes(wh)} vs $budget")
      assert(!Files.exists(tbl.resolve(chunks.head)),
        "the OLDEST pre-existing chunk evicts first (mtime-ordered census)")
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.toSet, "evicted pre-existing chunks re-hydrate on read")
      assert(em.rejected.get == 0)
    } finally {
      if (unH != null) unH.close()
      unM.close(); unA.close(); em.close()
    }
  }

  test("the cache-plane ledger counts EXACTLY: one sweep eviction, one re-hydrating " +
      "pull, and the hydrate batches' local-hit split") {
    val em = new GraftS3Server("graft-bounded-ledger", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"ledger-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c)
    var unH: AutoCloseable = null
    try {
      val tbl = wh.resolve("ns").resolve("t")
      val all = rows(1200, 29L)
      GraftTable.create(spark, tbl.toString, all.toDF("id", "p", "payload").schema)
      GraftTable.append(spark, tbl.toString,
        all.filter(_._1 % 2 == 0).toDF("id", "p", "payload").coalesce(1))
      val fA = GraftTable.liveDataFiles(tbl.toString, Seq.empty).head.path
      val sizeA = Files.size(tbl.resolve(fA))
      unH = GraftS3.mountOnDemandHydration(wh, c,
        maxLocalBytes = Some((sizeA * 1.2).toLong))
      // chunk B's commit pushes tracked over budget: the sweep evicts
      // exactly chunk A (confirmed remote by the pre-slot barrier)
      GraftTable.append(spark, tbl.toString,
        all.filter(_._1 % 2 == 1).toDF("id", "p", "payload").coalesce(1))
      val s1 = GraftS3.cacheStats(wh).get
      assert(s1.filesEvicted == 1L && s1.bytesEvicted == sizeA,
        s"exactly chunk A evicts: $s1")
      assert(s1.filesHydrated == 0L && s1.bytesHydrated == 0L)
      // the read re-hydrates exactly chunk A; chunk B serves locally
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.toSet)
      val s2 = GraftS3.cacheStats(wh).get
      assert(s2.filesHydrated == 1L && s2.bytesHydrated == sizeA,
        s"exactly chunk A re-hydrates: $s2")
      assert(s2.hydrateMisses == 1L, s"one miss (chunk A): $s2")
      assert(s2.hydrateHits >= 1L, s"chunk B is a local hit: $s2")
      assert(em.rejected.get == 0)
    } finally {
      if (unH != null) unH.close()
      unM.close(); unA.close(); em.close()
    }
  }

  test("a commit-boundary sweep spares a CONCURRENT thread's just-planned working " +
      "set (grace window) while the committing thread's own files stay evictable") {
    val em = new GraftS3Server("graft-bounded-grace", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"grace-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c)
    var unH: AutoCloseable = null
    val grace0 = GraftS3.evictionGraceMs
    try {
      val tbl = wh.resolve("ns").resolve("t")
      val all = rows(1800, 37L)
      GraftTable.create(spark, tbl.toString, all.toDF("id", "p", "payload").schema)
      def liveSet(): Set[String] =
        GraftTable.liveDataFiles(tbl.toString, Seq.empty).map(_.path).toSet
      GraftTable.append(spark, tbl.toString,
        all.filter(_._1 % 3 == 0).toDF("id", "p", "payload").coalesce(1))
      val fA = liveSet().head
      val oneChunk = Files.size(tbl.resolve(fA))
      // budget ≈ 1.2 chunks: any second tracked chunk forces a sweep
      unH = GraftS3.mountOnDemandHydration(wh, c,
        maxLocalBytes = Some((oneChunk * 1.2).toLong))
      // a FOREIGN thread's scan plans (and therefore grace-stamps) fA —
      // the concurrent-reader shape: hydration fires at plan time, its
      // tasks read the local path afterwards. join() swallows uncaught
      // throwables, so the reader's failure must rethrow here — a
      // silently-failed read would leave the grace precondition only
      // partially established
      @volatile var readerErr: Throwable = null
      val reader = new Thread(() =>
        try assert(GraftTable.read(spark, tbl.toString).count() == 600L)
        catch { case t: Throwable => readerErr = t })
      reader.start(); reader.join()
      if (readerErr != null) throw readerErr
      // the committing thread appends chunk B: its sweep is over
      // budget, fA is LRU-first — but fA is graced (foreign, fresh),
      // so the sweep defers to the commit's OWN file instead
      GraftTable.append(spark, tbl.toString,
        all.filter(_._1 % 3 == 1).toDF("id", "p", "payload").coalesce(1))
      val fB = (liveSet() - fA).head
      assert(Files.exists(tbl.resolve(fA)),
        "the foreign scan's just-planned file survives the commit sweep")
      assert(!Files.exists(tbl.resolve(fB)),
        "the committing thread's own confirmed file evicts in its place")
      // grace disabled → the next commit sweep evicts the stale fA
      GraftS3.evictionGraceMs = 0L
      GraftTable.append(spark, tbl.toString,
        all.filter(_._1 % 3 == 2).toDF("id", "p", "payload").coalesce(1))
      assert(!Files.exists(tbl.resolve(fA)),
        "past the window (grace 0) the same file evicts normally")
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.toSet)
      assert(em.rejected.get == 0)
    } finally {
      GraftS3.evictionGraceMs = grace0
      if (unH != null) unH.close()
      unM.close(); unA.close(); em.close()
    }
  }

  test("a commit's RETIRED files evict at its OWN boundary even when a foreign " +
      "thread's scan grace-stamped them; non-retired planned files stay spared") {
    // The grace ledger keys own-vs-foreign by planning thread id — a
    // heuristic that would spare a commit's own victims whenever Spark
    // plans the reading scan off the committing thread (AQE
    // materializes query stages on pool threads). The contract under
    // test: retired rels parsed from the commit JSON override the
    // grace entirely, so victims evict at their own boundary no matter
    // which thread planned them — here a metadata-only partition
    // DELETE, whose commit carries ONLY removes (pinning the
    // removes-only sweep path too) and reads nothing (so the foreign
    // stamp is never overwritten by the committing thread's own plan).
    val em = new GraftS3Server("graft-bounded-retired", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"retired-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c)
    var unH: AutoCloseable = null
    try {
      val tbl = wh.resolve("ns").resolve("g")
      val all = rows(1800, 23L)
      val df = all.toDF("id", "p", "payload")
      GraftTable.create(spark, tbl.toString, df.schema,
        Map(GraftTable.specProp -> "identity(p)"))
      GraftTable.append(spark, tbl.toString, df.repartition(2))
      val files = GraftTable.state(tbl.toString).files.filter(_.isData)
      val victims = files.filter(_.partitionValues.get("p").contains("2"))
        .map(_.path).toSet
      val keepers = files.map(_.path).toSet -- victims
      assert(victims.nonEmpty && keepers.nonEmpty)
      val total = localDataBytes(wh)
      val victimBytes = victims.toSeq.map(v => Files.size(tbl.resolve(v))).sum
      // keepers alone fit; the sweep must reclaim ≥ half the victim
      // bytes — under an active grace window ONLY the retired set is
      // eligible, so this budget is satisfiable iff the override works
      val budget = total - victimBytes / 2
      unH = GraftS3.mountOnDemandHydration(wh, c, maxLocalBytes = Some(budget))
      // a FOREIGN thread's full scan grace-stamps EVERY live file
      // (failures rethrow on the test thread — join() swallows them)
      @volatile var readerErr: Throwable = null
      val reader = new Thread(() =>
        try assert(GraftTable.read(spark, tbl.toString).count() == all.size)
        catch { case t: Throwable => readerErr = t })
      reader.start(); reader.join()
      if (readerErr != null) throw readerErr
      // metadata-only partition DELETE on the main thread: removes-only
      // commit, zero reads, fresh foreign stamps on every victim
      GraftTable.deleteWhere(spark, tbl.toString, col("p") === 2)
      assert(localDataBytes(wh) <= budget,
        s"post-delete local bytes ${localDataBytes(wh)} must fit $budget " +
          "(retired files must evict through the grace window)")
      val victimsEvicted = victims.filter(v => !Files.exists(tbl.resolve(v)))
      assert(victimsEvicted.nonEmpty,
        "the removes-only commit's sweep must evict retired files")
      victimsEvicted.foreach(v => assert(c.sizeOf(s"ns/g/$v").isDefined,
        s"an evicted victim's remote twin must exist: $v"))
      keepers.foreach(k => assert(Files.exists(tbl.resolve(k)),
        s"a live file the foreign scan just planned stays grace-spared: $k"))
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.filterNot(_._2 == 2).toSet)
      assert(em.rejected.get == 0)
    } finally {
      if (unH != null) unH.close()
      unM.close(); unA.close(); em.close()
    }
  }

  test("the sweep never deletes the only copy: a file whose remote twin was " +
      "destroyed stays local (and keeps serving reads) while confirmed files evict " +
      "in its place") {
    val em = new GraftS3Server("graft-bounded-oc", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"oc-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val all = rows(1800, 11L)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c)
    var unH: AutoCloseable = null
    try {
      val tbl = wh.resolve("ns").resolve("t")
      val df = all.toDF("id", "p", "payload")
      GraftTable.create(spark, tbl.toString, df.schema)
      def liveSet(): Set[String] =
        GraftTable.liveDataFiles(tbl.toString, Seq.empty).map(_.path).toSet
      def appendChunk(k: Int, prev: Set[String]): String = {
        GraftTable.append(spark, tbl.toString,
          all.filter(_._1 % 3 == k).toDF("id", "p", "payload").coalesce(1))
        (liveSet() -- prev).head
      }
      val f0 = appendChunk(0, Set.empty)
      val oneChunk = Files.size(tbl.resolve(f0))
      unH = GraftS3.mountOnDemandHydration(wh, c,
        maxLocalBytes = Some((oneChunk * 2.2).toLong))
      // one read tracks the pre-mount chunk in the LRU (the same touch
      // every planned read applies) — it is then LRU-first at the sweep
      assert(GraftTable.read(spark, tbl.toString).count() == 600L)
      val f1 = appendChunk(1, Set(f0))
      // FOREIGN destruction of chunk 0's remote twin — from here the
      // local copy is the ONLY copy and must be unevictable
      em.objects.remove(s"ns/t/$f0")
      // chunk 2 pushes tracked bytes over budget: the sweep picks f0
      // (LRU), fails its remote confirmation, and takes f1 instead
      val f2 = appendChunk(2, Set(f0, f1))
      assert(Files.exists(tbl.resolve(f0)),
        "the unconfirmable file survives the sweep — never the only copy")
      assert(!Files.exists(tbl.resolve(f1)),
        "a confirmed-remote file evicts in its place")
      assert(Files.exists(tbl.resolve(f2)), "the newest chunk is MRU")
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.toSet,
        "no data loss: chunk 0 serves locally, chunk 1 re-hydrates")
      assert(em.rejected.get == 0)
    } finally {
      if (unH != null) unH.close()
      unM.close(); unA.close(); em.close()
    }
  }

  test("budget 0 + read-in-place + direct-write = the reference's exact deployment " +
      "shape: a writer with NO local lake copy — zero local data bytes WITHOUT the " +
      "evict step (placeArtifact never fires), every read over ranged GETs") {
    val em = new GraftS3Server("graft-zerodisk", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"zd-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    // the commit-boundary EVICTION must never be what achieves zero
    // here: with direct-write the data bytes never land at all, which
    // a placement counter bound on the warehouse proves (the mounts'
    // placements pass down to it)
    val placed = new java.util.concurrent.atomic.AtomicInteger()
    val counter = LakeStore.bind(wh)(below => new LakeStore.Layer(below) {
      override def place(src: Path, dst: Path): Unit = {
        placed.incrementAndGet()
        below.place(src, dst)
      }
    })
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c, directWrite = true)
    // budget 0 stays as the belt to direct-write's suspenders;
    // readInPlace: reads never pull anything back — the steady state
    // holds NO local data bytes, matching the reference where no
    // compose node carries a lake copy on either path
    val unH = GraftS3.mountOnDemandHydration(wh, c,
      maxLocalBytes = Some(0L), readInPlace = true)
    try {
      val all = rows(1800, 17L)
      val tbl = wh.resolve("ns").resolve("t")
      GraftTable.create(spark, tbl.toString, all.toDF("id", "p", "payload").schema)
      def localData: Long = localDataBytes(wh)
      (0 until 3).foreach { k =>
        GraftTable.append(spark, tbl.toString,
          all.filter(_._1 % 3 == k).toDF("id", "p", "payload").coalesce(1))
        assert(localData == 0L, s"after append $k: $localData local bytes")
        assert(placed.get == 0, s"append $k placed a local data artifact")
      }
      // CoW delete: reads its victims IN PLACE (zero hydration), the
      // rewrite streams DIRECT to the store — no transient landing,
      // no evict step
      GraftTable.deleteWhere(spark, tbl.toString, col("id") % 5 === 0)
      assert(localData == 0L, s"after delete: $localData local bytes")
      GraftTable.rewriteDataFiles(spark, tbl.toString,
        targetFileSizeBytes = 64L * 1024 * 1024)
      assert(localData == 0L, s"after compaction: $localData local bytes")
      assert(placed.get == 0,
        "the whole lifecycle placed ZERO local data artifacts — zero " +
          "is structural, not evicted")
      val opened0 = graft.lake.GraftRangedFs.opened.get
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.filterNot(_._1 % 5 == 0).toSet,
        "the zero-disk writer's table reads back exact")
      assert(graft.lake.GraftRangedFs.opened.get > opened0,
        "the read must serve through the grafts3 scheme")
      assert(localData == 0L, s"after the read: $localData local bytes")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); counter.close(); em.close() }
  }

  test("the pure-conf ZERO-LOCAL-LAKE writer: budget 0 + s3.read-in-place on the " +
      "WRITER catalog shape — SQL ingest leaves zero local data bytes and reads " +
      "serve over ranged GETs") {
    val em = new GraftS3Server("graft-zerodisk-conf", creds)
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"zdconf-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val all = rows(1200, 31L)
    try {
      all.toDF("id", "p", "payload").createOrReplaceTempView("zd_src")
      val cat = "graft_zd"
      try {
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.endpoint", em.endpoint.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.bucket", "graft-zerodisk-conf")
        spark.conf.set(s"spark.sql.catalog.$cat.s3.access-key", creds.accessKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.secret-key", creds.secretKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.local-cache-max-bytes", "0")
        spark.conf.set(s"spark.sql.catalog.$cat.s3.read-in-place", "true")
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
        spark.sql(s"CREATE TABLE $cat.ns.t (id BIGINT, p INT, payload STRING)")
        (0 until 2).foreach { k =>
          spark.sql(s"INSERT INTO $cat.ns.t SELECT id, p, payload FROM zd_src " +
            s"WHERE id % 2 = $k")
          assert(localDataBytes(wh) == 0L,
            s"after INSERT $k: ${localDataBytes(wh)} local data bytes")
        }
        val opened0 = graft.lake.GraftRangedFs.opened.get
        val got = spark.sql(s"SELECT id FROM $cat.ns.t").as[Long].collect().toSet
        assert(got == all.map(_._1).toSet, "the zero-disk conf writer reads back exact")
        assert(graft.lake.GraftRangedFs.opened.get > opened0,
          "reads serve through the grafts3 scheme")
        assert(localDataBytes(wh) == 0L,
          s"after the read: ${localDataBytes(wh)} local data bytes")
        assert(em.rejected.get == 0)
      } finally graft.lake.GraftSparkCatalog.closeConfMounts(wh.toString)
    } finally em.close()
  }

  test("the pure-conf door: s3.local-cache-max-bytes on the WRITER catalog shape " +
      "bounds a partitioned SQL ingest, and pruned reads re-hydrate per partition") {
    val em = new GraftS3Server("graft-bounded-conf", creds)
    val wh = Paths.get(scratchRoot("s3-bounded",
      s"conf-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val all = rows(1800, 13L)
    try {
      all.toDF("id", "p", "payload").createOrReplaceTempView("bw_src")
      val cat = "graft_bw"
      try {
        // budget ≈ 0.55 × the three partitions' bytes: each INSERT's
        // commit must evict the previous partition's files
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.endpoint", em.endpoint.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.bucket", "graft-bounded-conf")
        spark.conf.set(s"spark.sql.catalog.$cat.s3.access-key", creds.accessKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.secret-key", creds.secretKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.local-cache-max-bytes",
          (180L * 1024).toString)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
        spark.sql(s"""CREATE TABLE $cat.ns.t (id BIGINT, p INT, payload STRING)
          PARTITIONED BY (identity(p))""")
        (0 until 3).foreach { k =>
          spark.sql(
            s"INSERT INTO $cat.ns.t SELECT id, p, payload FROM bw_src WHERE p = $k")
          assert(localDataBytes(wh) <= 180L * 1024,
            s"after INSERT $k: local ${localDataBytes(wh)} must fit the conf budget")
        }
        val remoteData = em.client.listWithSizes("ns/t/data/").map(_._2).sum
        assert(remoteData > 180L * 1024,
          s"the ingest wrote $remoteData against the 180 KiB budget")
        // a pruned read of the FIRST partition (evicted by now) must
        // re-hydrate exactly it and still respect the budget after
        val got = spark.sql(s"SELECT id FROM $cat.ns.t WHERE p = 0")
          .as[Long].collect().toSet
        assert(got == all.filter(_._2 == 0).map(_._1).toSet,
          "the evicted partition reads back exact")
        assert(localDataBytes(wh) <= 180L * 1024,
          s"post-read local ${localDataBytes(wh)} must fit the conf budget")
        assert(em.rejected.get == 0)
      } finally graft.lake.GraftSparkCatalog.closeConfMounts(wh.toString)
    } finally em.close()
  }
}
