package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.lake.{GraftS3, GraftS3Server, GraftTable, LakeStore}
import graft.lake.GraftS3.Credentials

/** Task-side direct-to-store streaming write (reference:
  * spark-defaults.conf:10 — executors write `warehouse=s3a://…`
  * directly; no node funnels the lake's data bytes through its local
  * disk): under `mountArtifactMirror(directWrite = true)`, every
  * staged parquet write targets the store through the grafts3 scheme —
  * tasks stream their output as multipart parts, the committer walks a
  * remote `_temporary` tree, and GraftTable publishes survivors by
  * SERVER-SIDE copy. A data file never lands on any local disk, not
  * even pre-evict: the store's `place` simply never fires for it, which
  * a counting layer proves alongside the walked byte totals. */
class S3DirectWriteSpec extends SparkSpec {
  import spark.implicits._

  private val creds = Credentials("GRAFTKEY", "graft-direct-secret")

  /** Incompressible payloads, the bounded-writer spec's rule —
    * localDataBytes and padRows live in SparkSpec (one shared copy). */
  private def rows(n: Int, seed: Long) = padRows(n, seed)

  /** Count placements: `local` under `root` (must stay 0 for a
    * direct-write table — the zero-transient-landing claim) and `any`
    * under root's parent, the suite's scratch dir (the liveness
    * control: a vacuously-zero counter proves nothing). Bound on the
    * parent, under every mount on `root`: the mounts pass their
    * placements down to it. */
  private def withPlacedCounter[T](root: Path)(
      body: (AtomicInteger, AtomicInteger) => T): T = {
    val local = new AtomicInteger()
    val any = new AtomicInteger()
    val nroot = root.toAbsolutePath.normalize
    val counter = LakeStore.bind(nroot.getParent)(below => new LakeStore.Layer(below) {
      override def place(src: Path, dst: Path): Unit = {
        any.incrementAndGet()
        if (dst.startsWith(nroot)) local.incrementAndGet()
        below.place(src, dst)
      }
    })
    try body(local, any) finally counter.close()
  }

  test("a full partitioned lifecycle — multi-file appends, CoW delete, compaction — " +
      "commits with ZERO transient local data bytes: placeArtifact never fires, " +
      "parts stream multipart, publishes are server-side copies") {
    val em = new GraftS3Server("graft-direct-w", creds)
    // small parts so the gate-sized chunks genuinely exercise the
    // multipart streaming path
    val c = em.clientWith(32 * 1024, 64 * 1024, partConcurrency = 2)
    val wh = Paths.get(scratchRoot("s3-direct",
      s"wh-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    withPlacedCounter(wh) { (placed, anyPlaced) =>
      val unA = GraftS3.mountCommitArbiter(wh, c)
      val unM = GraftS3.mountArtifactMirror(wh, c, directWrite = true)
      val unH = GraftS3.mountOnDemandHydration(wh, c,
        maxLocalBytes = Some(0L), readInPlace = true)
      try {
        val all = rows(1800, 41L)
        val df = all.toDF("id", "p", "payload")
        val tbl = wh.resolve("ns").resolve("t")
        GraftTable.create(spark, tbl.toString, df.schema,
          Map(GraftTable.specProp -> "identity(p)"))
        (0 until 3).foreach { k =>
          GraftTable.append(spark, tbl.toString,
            all.filter(_._1 % 3 == k).toDF("id", "p", "payload").repartition(2))
          assert(localDataBytes(wh) == 0L, s"after append $k")
          assert(placed.get == 0, s"append $k placed a local artifact")
        }
        assert(em.partPuts.get > 0,
          "task output streamed as multipart parts")
        assert(em.copyCalls.get > 0,
          "publishes (and committer merges) are server-side copies")
        // the partition tuples survived the remote-stage harvest: a
        // pruned read plans fewer files than the table holds
        val allFiles = GraftTable.liveDataFiles(tbl.toString, Seq.empty)
        assert(allFiles.forall(_.partition.exists(_.contains("p"))),
          "every direct-written file carries its partition tuple")
        // CoW delete: victims read IN PLACE, rewrite streams direct
        GraftTable.deleteWhere(spark, tbl.toString, col("id") % 5 === 0)
        assert(localDataBytes(wh) == 0L, "after CoW delete")
        GraftTable.rewriteDataFiles(spark, tbl.toString,
          targetFileSizeBytes = 64L * 1024 * 1024)
        assert(localDataBytes(wh) == 0L, "after compaction")
        assert(placed.get == 0,
          "the whole lifecycle placed ZERO local data artifacts")
        assert(em.openUploads == 0, "no leaked multipart uploads")
        val opened0 = graft.lake.GraftRangedFs.opened.get
        val got = GraftTable.read(spark, tbl.toString)
          .as[(Long, Int, String)].collect().toSet
        assert(got == all.filterNot(_._1 % 5 == 0).toSet,
          "the direct-written table reads back exact")
        assert(graft.lake.GraftRangedFs.opened.get > opened0,
          "reads serve through the grafts3 scheme")
        assert(localDataBytes(wh) == 0L, "after the read")
        // liveness control: the counter DOES see placements elsewhere
        val wh2 = Paths.get(scratchRoot("s3-direct",
          s"ctl-${ProcessHandle.current().pid()}"))
        val ctl = wh2.resolve("ctl")
        GraftTable.create(spark, ctl.toString, df.schema)
        GraftTable.append(spark, ctl.toString, df.limit(10).coalesce(1))
        assert(anyPlaced.get > 0, "the counting wrapper is live")
        assert(em.rejected.get == 0, "every request SigV4-verified")
      } finally { unH.close(); unM.close(); unA.close(); em.close() }
    }
  }

  test("the MoR delete plane stages direct too: position-delete files publish by " +
      "server-side copy with zero local landing; the MoR read still applies them") {
    val em = new GraftS3Server("graft-direct-mor", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-direct",
      s"mor-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    withPlacedCounter(wh) { (placed, _) =>
      val unA = GraftS3.mountCommitArbiter(wh, c)
      val unM = GraftS3.mountArtifactMirror(wh, c, directWrite = true)
      val unH = GraftS3.mountOnDemandHydration(wh, c,
        maxLocalBytes = Some(0L), readInPlace = true)
      try {
        val all = rows(1200, 43L)
        val df = all.toDF("id", "p", "payload")
        val tbl = wh.resolve("ns").resolve("m")
        GraftTable.create(spark, tbl.toString, df.schema,
          Map("write.delete.mode" -> "merge-on-read"))
        GraftTable.append(spark, tbl.toString, df.coalesce(1))
        GraftTable.deleteWhere(spark, tbl.toString, col("id") % 7 === 0)
        assert(localDataBytes(wh) == 0L,
          "data AND delete files landed nowhere locally at the commit")
        assert(placed.get == 0)
        assert(c.listWithSizes("ns/m/deletes/").nonEmpty,
          "the position-delete file is remote")
        val got = GraftTable.read(spark, tbl.toString)
          .as[(Long, Int, String)].collect().toSet
        assert(got == all.filterNot(_._1 % 7 == 0).toSet,
          "the MoR read applies the direct-written delete file")
        assert(em.rejected.get == 0)
      } finally { unH.close(); unM.close(); unA.close(); em.close() }
    }
  }

  test("fault injection: a part-PUT failure burst fails the append LOUDLY, the " +
      "broken stream aborts its upload, the stage discards wholesale, and the next " +
      "append succeeds clean") {
    val em = new GraftS3Server("graft-direct-fault", creds)
    val c = em.clientWith(32 * 1024, 64 * 1024, partConcurrency = 2)
    val wh = Paths.get(scratchRoot("s3-direct",
      s"fault-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c, directWrite = true)
    val unH = GraftS3.mountOnDemandHydration(wh, c,
      maxLocalBytes = Some(0L), readInPlace = true)
    try {
      val all = rows(1200, 47L)
      val df = all.toDF("id", "p", "payload")
      val tbl = wh.resolve("ns").resolve("f")
      GraftTable.create(spark, tbl.toString, df.schema)
      // enough consecutive 500s to exhaust one part's whole retry
      // ladder no matter how Spark schedules the task
      em.failPartsNext.set(60)
      intercept[Exception] {
        GraftTable.append(spark, tbl.toString, df.coalesce(1))
      }
      em.failPartsNext.set(0)
      assert(em.openUploads == 0,
        "the broken stream ABORTED its multipart upload — nothing leaks billing")
      assert(!em.objects.keySet.asScala.exists(_.contains(".stage-")),
        "the failed op's remote stage discarded wholesale")
      assert(GraftTable.liveDataFiles(tbl.toString, Seq.empty).isEmpty,
        "the failed append committed nothing")
      GraftTable.append(spark, tbl.toString, df.coalesce(1))
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.toSet, "the retried append lands clean")
      assert(!em.objects.keySet.asScala.exists(_.contains(".stage-")),
        "the successful op's stage also cleans to zero keys")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("the pure-conf door: s3.direct-write=true on the writer catalog shape — SQL " +
      "ingest with zero local data bytes, reads through the same catalog") {
    val em = new GraftS3Server("graft-direct-conf", creds)
    val wh = Paths.get(scratchRoot("s3-direct",
      s"conf-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val all = rows(1200, 53L)
    withPlacedCounter(wh) { (placed, _) =>
      try {
        all.toDF("id", "p", "payload").createOrReplaceTempView("dw_src")
        val cat = "graft_dw"
        try {
          spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftSparkCatalog")
          spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
          spark.conf.set(s"spark.sql.catalog.$cat.s3.endpoint", em.endpoint.toString)
          spark.conf.set(s"spark.sql.catalog.$cat.s3.bucket", "graft-direct-conf")
          spark.conf.set(s"spark.sql.catalog.$cat.s3.access-key", creds.accessKey)
          spark.conf.set(s"spark.sql.catalog.$cat.s3.secret-key", creds.secretKey)
          spark.conf.set(s"spark.sql.catalog.$cat.s3.direct-write", "true")
          spark.conf.set(s"spark.sql.catalog.$cat.s3.read-in-place", "true")
          spark.conf.set(s"spark.sql.catalog.$cat.s3.local-cache-max-bytes", "0")
          spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
          spark.sql(s"CREATE TABLE $cat.ns.t (id BIGINT, p INT, payload STRING)")
          (0 until 2).foreach { k =>
            spark.sql(s"INSERT INTO $cat.ns.t SELECT id, p, payload FROM dw_src " +
              s"WHERE id % 2 = $k")
            assert(localDataBytes(wh) == 0L, s"after INSERT $k")
          }
          assert(placed.get == 0, "conf-driven direct writes place nothing locally")
          assert(em.copyCalls.get > 0)
          val got = spark.sql(s"SELECT id FROM $cat.ns.t").as[Long].collect().toSet
          assert(got == all.map(_._1).toSet)
          assert(localDataBytes(wh) == 0L, "after the read")
          assert(em.rejected.get == 0)
        } finally graft.lake.GraftSparkCatalog.closeConfMounts(wh.toString)
      } finally em.close()
    }
  }

  test("streamingUpload grows its buffer to the payload instead of pinning a full " +
      "part up front: KB streams allocate KBs, multi-part streams cap at one part") {
    // N concurrent task streams each eagerly holding a 64 MiB part
    // buffer for committer markers and small splits is heap the write
    // never uses; peakBufferBytes tracks REALIZED allocation
    val em = new GraftS3Server("graft-direct-buf", creds)
    try {
      // default client (64 MiB parts): a 10 KiB stream stays on the
      // 64 KiB initial buffer
      val small = em.client
      val up = small.streamingUpload("s/one")
      val b = new Array[Byte](10 * 1024); new java.util.Random(7L).nextBytes(b)
      up.write(b, 0, b.length); up.close()
      assert(up.completed && em.objects.get("s/one").toSeq == b.toSeq)
      assert(small.peakBufferBytes.get <= 64 * 1024,
        s"a 10 KiB stream must not pin a part buffer: ${small.peakBufferBytes.get}")
      // the geometric-growth arm: 500 KiB grows 64K -> 256K -> 1M and
      // stops, far below the 64 MiB part, and closes as one sized PUT
      val mid = em.client
      val up2 = mid.streamingUpload("s/two")
      val midBytes = new Array[Byte](500 * 1024)
      new java.util.Random(8L).nextBytes(midBytes)
      var off = 0
      while (off < midBytes.length) {
        val n = math.min(7000, midBytes.length - off)
        up2.write(midBytes, off, n); off += n
      }
      up2.close()
      assert(up2.completed && em.objects.get("s/two").toSeq == midBytes.toSeq)
      assert(mid.peakBufferBytes.get <= (1 << 20),
        s"500 KiB grows to at most 1 MiB, never a full part: ${mid.peakBufferBytes.get}")
      // crossing the part boundary: the buffer caps at EXACTLY one part
      val parted = em.clientWith(partSizeBytes = 64 * 1024,
        multipartThresholdBytes = 64L * 1024)
      val up3 = parted.streamingUpload("s/three")
      val big = new Array[Byte](300 * 1024)
      new java.util.Random(9L).nextBytes(big)
      off = 0
      while (off < big.length) {
        val n = math.min(7000, big.length - off)
        up3.write(big, off, n); off += n
      }
      up3.close()
      assert(up3.completed && em.objects.get("s/three").toSeq == big.toSeq)
      assert(parted.peakBufferBytes.get == 64 * 1024,
        s"a multi-part stream's buffer caps at ONE part: ${parted.peakBufferBytes.get}")
      assert(em.rejected.get == 0)
    } finally em.close()
  }

  test("removeOrphanRemote reclaims a crashed direct-write job's remote-only debris " +
      "— stage trees and unreferenced publishes — and never the live lineage, the " +
      "log plane, or anything younger than the horizon") {
    val em = new GraftS3Server("graft-direct-orphan", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-direct",
      s"orph-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c, directWrite = true)
    val unH = GraftS3.mountOnDemandHydration(wh, c,
      maxLocalBytes = Some(0L), readInPlace = true)
    try {
      val all = rows(1200, 59L)
      val df = all.toDF("id", "p", "payload")
      val tbl = wh.resolve("ns").resolve("o")
      GraftTable.create(spark, tbl.toString, df.schema)
      (0 until 2).foreach { k =>
        GraftTable.append(spark, tbl.toString,
          all.filter(_._1 % 2 == k).toDF("id", "p", "payload").coalesce(1))
      }
      // a crashed job's remote-only traces, invisible to the LOCAL
      // sweep (nothing under wh holds data bytes) and conservatively
      // retained forever by pruneRemote's whitelist: the stage tree a
      // discard never ran over, and a publish whose writer died before
      // its slot win
      val junk = "not really parquet".getBytes
      val debris = Seq(
        "ns/o/.stage-dead/_temporary/0/_temporary/attempt_1/part-00000.parquet",
        "ns/o/.stage-dead/part-00001.parquet")
      val orphan = "ns/o/data/0000000099-00000-dead.parquet"
      (debris :+ orphan).foreach(c.put(_, junk))
      val liveKeys = c.list("ns/o/data/").toSet - orphan
      assert(liveKeys.nonEmpty)
      val logKeys = c.list("ns/o/_graft_log/").toSet
      val horizon = System.currentTimeMillis() + 60000L
      // horizon in the PAST: everything is younger — nothing eligible
      assert(GraftS3.removeOrphanRemote(wh, c, olderThanMs = 1L).isEmpty,
        "a live job's fresh stage is out of reach by the horizon contract")
      val dry = GraftS3.removeOrphanRemote(wh, c, horizon, dryRun = true)
      assert(dry.toSet == (debris :+ orphan).toSet,
        s"dry run names exactly the debris: $dry")
      assert(c.list("ns/o/").toSet ==
        liveKeys ++ logKeys ++ debris + orphan, "dry run deletes nothing")
      val wet = GraftS3.removeOrphanRemote(wh, c, horizon)
      assert(wet.toSet == dry.toSet)
      assert(c.list("ns/o/").toSet == liveKeys ++ logKeys,
        "the sweep removed the debris and ONLY the debris")
      val got = GraftTable.read(spark, tbl.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(got == all.toSet, "the live lineage reads back exact after the sweep")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("removeOrphanRemote refuses a stale log: a remote commit slot absent locally " +
      "— a fleet peer's fresh commit — aborts the sweep before any delete") {
    val em = new GraftS3Server("graft-direct-stale", creds)
    val c = em.client
    val wh = Paths.get(scratchRoot("s3-direct",
      s"stale-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    val unA = GraftS3.mountCommitArbiter(wh, c)
    val unM = GraftS3.mountArtifactMirror(wh, c, directWrite = true)
    try {
      val df = rows(200, 61L).toDF("id", "p", "payload")
      val tbl = wh.resolve("ns").resolve("s")
      GraftTable.create(spark, tbl.toString, df.schema)
      GraftTable.append(spark, tbl.toString, df.coalesce(1))
      // a peer won a slot this machine hasn't synced; its files would
      // look unreferenced against the stale local log
      val peerSlot = "ns/s/_graft_log/0000000042.json"
      c.put(peerSlot, "{}".getBytes)
      val orphanish = "ns/s/data/0000000042-00000-peer.parquet"
      c.put(orphanish, "peer bytes".getBytes)
      val before = c.list("ns/s/").toSet
      val ex = intercept[IllegalArgumentException] {
        GraftS3.removeOrphanRemote(wh, c,
          olderThanMs = System.currentTimeMillis() + 60000L)
      }
      assert(ex.getMessage.contains("sync first"))
      assert(c.list("ns/s/").toSet == before,
        "the refusal fired before any delete")
    } finally { unM.close(); unA.close(); em.close() }
  }
}
