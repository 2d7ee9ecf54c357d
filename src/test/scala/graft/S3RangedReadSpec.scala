package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.lake.{GraftRangedFs, GraftS3, GraftS3Server, GraftTable}
import graft.lake.GraftS3.Credentials

/** The ranged-read scan path — IN-PLACE object-store reads, the
  * reference deployment's own shape (spark-defaults.conf wires
  * `fs.s3a.*` so Spark reads MinIO directly over ranged requests; no
  * local lake copy exists anywhere in its docker-compose): with
  * `readInPlace`, the native scan's data files resolve to `grafts3://`
  * URIs and Spark's vectorized parquet reader pulls the FOOTER plus
  * the PROJECTED column chunks over ranged GETs — column bytes, not
  * file bytes, and nothing materializes locally. MoR delete files
  * (small, read whole, shared across readers) keep hydrating. */
class S3RangedReadSpec extends SparkSpec {
  import spark.implicits._

  private val creds = Credentials("GRAFTKEY", "graft-ranged-secret")

  test("the ranged input stream is byte-identical to the object under adversarial " +
      "seek/read patterns, including window misses and chunk-sized reads") {
    val em = new GraftS3Server("graft-ranged-io", creds)
    try {
      val rnd = new java.util.Random(17L)
      val bytes = new Array[Byte](700 * 1024 + 13)   // > 2 readahead windows
      rnd.nextBytes(bytes)
      em.objects.put("blob/x", bytes)
      val in = new graft.lake.GraftRangedInputStream(em.client, "blob/x",
        bytes.length.toLong, 256 * 1024)
      // tail-first (the parquet footer pattern), then random windows
      in.seek(bytes.length - 8L)
      val tail = new Array[Byte](8)
      var got = 0
      while (got < 8) got += in.read(tail, got, 8 - got)
      assert(tail.toSeq == bytes.takeRight(8).toSeq, "footer-style tail read")
      (1 to 60).foreach { _ =>
        val from = rnd.nextInt(bytes.length)
        val len = 1 + rnd.nextInt(math.min(400 * 1024, bytes.length - from))
        in.seek(from.toLong)
        val b = new Array[Byte](len)
        var n = 0
        while (n < len) {
          val r = in.read(b, n, len - n)
          assert(r > 0, s"mid-object read returned $r at $from+$n")
          n += r
        }
        assert(java.util.Arrays.equals(b,
          java.util.Arrays.copyOfRange(bytes, from, from + len)),
          s"range [$from, ${from + len}) must be byte-identical")
        assert(in.getPos == from + len)
      }
      // EOF semantics match a local file
      in.seek(bytes.length.toLong)
      assert(in.read() == -1 && in.read(new Array[Byte](4), 0, 4) == -1)
      assert(em.rejected.get == 0)
    } finally em.close()
  }

  test("a LARGE artifact hydrates as k parallel ranged GETs: overlap observable, " +
      "byte-identical reassembly out of order, and a mid-download failure aborts clean") {
    val em = new GraftS3Server("graft-ranged-dl", creds)
    // 32 KiB ranges, 64 KiB threshold, 4 in flight — spec-sized
    val c = em.clientWith(32 * 1024, 64 * 1024, partConcurrency = 4)
    try {
      val rnd = new java.util.Random(117L)
      val bytes = new Array[Byte](9 * 32 * 1024 + 11)   // 10 ranges
      rnd.nextBytes(bytes)
      em.objects.put("data/big.bin", bytes)
      val dir = Files.createDirectories(Paths.get(scratchRoot("s3-ranged", "dl")))
      val dest = dir.resolve("big.bin")
      em.getDelayMsFor = k => if (k == "data/big.bin") 80 else 0
      em.maxInflightGets.set(0); em.getCalls.set(0)
      assert(c.getToFile("data/big.bin", dest))
      em.getDelayMsFor = _ => 0
      assert(Files.readAllBytes(dest).toSeq == bytes.toSeq,
        "out-of-order ranges must reassemble byte-identically")
      assert(em.maxInflightGets.get >= 2,
        s"ranges of ONE file must overlap: max inflight ${em.maxInflightGets.get}")
      // one aborted stream attempt + ceil(size/rangeSize) range GETs
      assert(em.getCalls.get == 1 + 10,
        s"expected 1 probe + 10 ranges: ${em.getCalls.get}")

      // a small object keeps the single-stream path: exactly one GET
      em.getCalls.set(0)
      em.objects.put("data/small.bin", bytes.take(1000))
      assert(c.getToFile("data/small.bin", dir.resolve("small.bin")))
      assert(em.getCalls.get == 1, s"small stays one stream: ${em.getCalls.get}")
      assert(Files.readAllBytes(dir.resolve("small.bin")).toSeq == bytes.take(1000).toSeq)

      // mid-download failure: delete the object under the client (the
      // in-flight ranges 404) — the download must fail loudly and
      // leave neither dest nor tmp debris
      em.objects.remove("data/big.bin")
      em.objects.put("data/gone.bin", bytes)
      em.getDelayMsFor = k => if (k == "data/gone.bin") 40 else 0
      val th = new Thread(() => { Thread.sleep(60); em.objects.remove("data/gone.bin") })
      th.start()
      val failed = intercept[Throwable] {
        c.getToFile("data/gone.bin", dir.resolve("gone.bin"))
        // getToFile returning false (404 on the probe) is also a clean
        // outcome if the delete won the race entirely
        throw new java.nio.file.NoSuchFileException("raced-to-404")
      }
      th.join()
      em.getDelayMsFor = _ => 0
      assert(!Files.exists(dir.resolve("gone.bin")),
        s"no torn artifact may materialize: $failed")
      val debris = Files.list(dir).iterator.asScala
        .map(_.getFileName.toString).filter(_.startsWith(".s3pull-")).toSeq
      assert(debris.isEmpty, s"no tmp debris: $debris")
      assert(em.rejected.get == 0)
    } finally em.close()
  }

  test("a read-in-place follower transfers COLUMN bytes, not file bytes: the pruned " +
      "projection reads footer + selected chunks off the store and hydrates NOTHING") {
    val em = new GraftS3Server("graft-inplace", creds)
    val c = em.client
    val whX = Paths.get(scratchRoot("s3-ranged", "ip-whx"))
    val whY = Paths.get(scratchRoot("s3-ranged",
      s"ip-why-${ProcessHandle.current().pid()}"))
    Files.createDirectories(whX); Files.createDirectories(whY)
    val unA = GraftS3.mountCommitArbiter(whX, c)
    val unM = GraftS3.mountArtifactMirror(whX, c)
    val unH = GraftS3.mountOnDemandHydration(whY, c, readInPlace = true)
    try {
      // the payload column DOMINATES file bytes; the gate projection
      // never selects it — in-place reads must then move only a small
      // fraction of the table
      // pseudo-random payloads: incompressible, so the dropped column
      // PHYSICALLY dominates file bytes (a constant pad would deflate
      // to nothing and hide the saving)
      val prnd = new java.util.Random(112L)
      val rows = (1 to 4000).map { i =>
        val pad = new Array[Byte](400)
        prnd.nextBytes(pad)
        (i.toLong, i % 5, s"v$i",
          java.util.Base64.getEncoder.encodeToString(pad))
      }
      val df = rows.toDF("id", "p", "v", "payload")
      val tblX = whX.resolve("ns").resolve("t")
      GraftTable.create(spark, tblX.toString, df.schema,
        Map(GraftTable.specProp -> "identity(p)"))
      GraftTable.append(spark, tblX.toString, df)
      val dataBytes = GraftTable.liveDataFiles(tblX.toString, Seq.empty)
        .map(_.sizeBytes).sum

      val tblY = whY.resolve("ns").resolve("t")
      Files.createDirectories(tblY)
      GraftS3.syncMetadata(tblY, c, "ns/t")
      spark.conf.set("spark.sql.catalog.graft_rr", "graft.lake.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.graft_rr.warehouse", whY.toString)

      em.bytesServed.clear()
      val openedBefore = GraftRangedFs.opened.get
      val got = spark.sql("SELECT id, v FROM graft_rr.ns.t WHERE p = 2")
        .as[(Long, String)].collect().toSet
      assert(got == rows.filter(_._2 == 2).map(r => (r._1, r._3)).toSet,
        "the in-place pruned projection is correct")
      assert(GraftRangedFs.opened.get > openedBefore,
        "the scan must actually stream through the grafts3 scheme")
      assert(!Files.isDirectory(tblY.resolve("data")),
        "in-place reads materialize NOTHING locally")
      // pruning: only the surviving partition's keys were touched
      val touched = em.bytesServed.keySet.asScala.filter(_.startsWith("ns/t/data/"))
      val pruned = GraftTable.liveDataFiles(tblY.toString,
        Seq(GraftTable.Eq("p", "2"))).map(f => s"ns/t/${f.path}").toSet
      assert(touched == pruned,
        s"only the pruned-live files are read in place: $touched vs $pruned")
      // THE HEADLINE BYTE CLAIM: the projection dropped the dominant
      // payload column, so in-place transfer ≪ even the pruned fifth
      // of the table (footer + two thin columns per file)
      val served = em.bytesServedUnder("ns/t/data/")
      val prunedBytes = GraftTable.liveDataFiles(tblY.toString,
        Seq(GraftTable.Eq("p", "2"))).map(_.sizeBytes).sum
      assert(served < prunedBytes / 2,
        s"column bytes, not file bytes: served $served of pruned $prunedBytes " +
          s"(table $dataBytes)")

      // selecting the payload too must move strictly more bytes —
      // proves the earlier saving came from column pruning, not luck
      em.bytesServed.clear()
      val all = spark.sql("SELECT id, payload FROM graft_rr.ns.t WHERE p = 2")
        .as[(Long, String)].collect()
      assert(all.length == rows.count(_._2 == 2))
      val servedWide = em.bytesServedUnder("ns/t/data/")
      assert(servedWide > served * 2,
        s"the wide projection transfers the payload chunks: $servedWide vs $served")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("MoR on a read-in-place follower: delete files hydrate, data files stay remote, " +
      "and the merge-on-read result is exact") {
    val em = new GraftS3Server("graft-inplace-mor", creds)
    val c = em.client
    val whX = Paths.get(scratchRoot("s3-ranged", "mor-whx"))
    val whY = Paths.get(scratchRoot("s3-ranged",
      s"mor-why-${ProcessHandle.current().pid()}"))
    Files.createDirectories(whX); Files.createDirectories(whY)
    val unA = GraftS3.mountCommitArbiter(whX, c)
    val unM = GraftS3.mountArtifactMirror(whX, c)
    val unH = GraftS3.mountOnDemandHydration(whY, c, readInPlace = true)
    try {
      val rows = (1L to 900L).map(i => (i, s"m$i"))
      val df = rows.toDF("id", "v")
      val tblX = whX.resolve("ns").resolve("m")
      GraftTable.create(spark, tblX.toString, df.schema,
        Map("write.delete.mode" -> "merge-on-read"))
      GraftTable.append(spark, tblX.toString, df)
      GraftTable.deleteWhere(spark, tblX.toString, col("id") % 9 === 0)

      val tblY = whY.resolve("ns").resolve("m")
      Files.createDirectories(tblY)
      GraftS3.syncMetadata(tblY, c, "ns/m")
      spark.conf.set("spark.sql.catalog.graft_rrm", "graft.lake.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.graft_rrm.warehouse", whY.toString)
      val got = spark.sql("SELECT id, v FROM graft_rrm.ns.m")
        .as[(Long, String)].collect().toSet
      assert(got == rows.filterNot(_._1 % 9 == 0).toSet,
        "merge-on-read applies exactly over in-place data reads")
      assert(Files.isDirectory(tblY.resolve("deletes")),
        "delete files hydrate (small, read whole, shared)")
      assert(!Files.isDirectory(tblY.resolve("data")),
        "data files never materialize on the in-place follower")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("vectored chunk ranges serve in PARALLEL, and a conf-constructed filesystem " +
      "(no registry — the separate-executor-JVM shape) reads in place") {
    val em = new GraftS3Server("graft-ranged-vec", creds)
    val c = em.client
    val whX = Paths.get(scratchRoot("s3-ranged", "vec-whx"))
    val whY = Paths.get(scratchRoot("s3-ranged",
      s"vec-why-${ProcessHandle.current().pid()}"))
    Files.createDirectories(whX); Files.createDirectories(whY)
    val unA = GraftS3.mountCommitArbiter(whX, c)
    val unM = GraftS3.mountArtifactMirror(whX, c)
    val unH = GraftS3.mountOnDemandHydration(whY, c, readInPlace = true)
    try {
      // doc_id and n_chars are NON-ADJACENT chunks (text/lang/source
      // sit between), so the projection yields TWO consecutive-part
      // ranges delivered in ONE readVectored call
      val prnd = new java.util.Random(113L)
      val rows = (1 to 3000).map { i =>
        val pad = new Array[Byte](300); prnd.nextBytes(pad)
        (i.toLong, java.util.Base64.getEncoder.encodeToString(pad),
          s"l${i % 3}", s"s${i % 5}", i.toLong * 7)
      }
      val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      val tblX = whX.resolve("ns").resolve("v")
      GraftTable.create(spark, tblX.toString, df.schema)
      GraftTable.append(spark, tblX.toString, df.coalesce(1))
      val tblY = whY.resolve("ns").resolve("v")
      Files.createDirectories(tblY)
      GraftS3.syncMetadata(tblY, c, "ns/v")
      spark.conf.set("spark.sql.catalog.graft_rrv", "graft.lake.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.graft_rrv.warehouse", whY.toString)
      em.getDelayMsFor = k => if (k.startsWith("ns/v/data/")) 300 else 0
      em.maxInflightGets.set(0)
      val got = spark.sql("SELECT doc_id, n_chars FROM graft_rrv.ns.v")
        .as[(Long, Long)].collect().toSet
      em.getDelayMsFor = _ => 0
      assert(got == rows.map(r => (r._1, r._5)).toSet,
        "the two-chunk in-place projection is correct")
      assert(em.maxInflightGets.get >= 2,
        s"the row group's chunk ranges must fetch in PARALLEL: " +
          s"max inflight ${em.maxInflightGets.get}")
      assert(!Files.isDirectory(tblY.resolve("data")), "nothing hydrated")

      // the executor-JVM shape: a FileSystem built purely from conf
      // (token absent from the registry) serves byte-identical reads
      val dataKey = "ns/v/" +
        GraftTable.liveDataFiles(tblY.toString, Seq.empty).head.path
      val hc = new org.apache.hadoop.conf.Configuration()
      locally { val (k, v) = graft.lake.GraftRangedFs.confKey; hc.set(k, v) }
      Seq("endpoint" -> em.endpoint.toString, "bucket" -> "graft-ranged-vec",
        "region" -> "local", "access-key" -> creds.accessKey,
        "secret-key" -> creds.secretKey).foreach { case (k, v) =>
        hc.set(s"fs.grafts3.confonly.$k", v)
      }
      val hp = new org.apache.hadoop.fs.Path(s"grafts3://confonly/$dataKey")
      val fs = hp.getFileSystem(hc)
      val st = fs.getFileStatus(hp)
      val in = fs.open(hp)
      val bytes = new Array[Byte](st.getLen.toInt)
      try in.readFully(0L, bytes) finally in.close()
      assert(bytes.toSeq == em.objects.get(dataKey).toSeq,
        "the conf-constructed filesystem serves byte-identical reads")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("the pure-conf deployment shape: s3.read-in-place=true on the catalog serves " +
      "in-place reads with zero mount calls in user code") {
    val em = new GraftS3Server("graft-inplace-conf", creds)
    val whX = Paths.get(scratchRoot("s3-ranged", "conf-whx"))
    val whY = Paths.get(scratchRoot("s3-ranged",
      s"conf-why-${ProcessHandle.current().pid()}"))
    Files.createDirectories(whX); Files.createDirectories(whY)
    val c = em.client
    val unA = GraftS3.mountCommitArbiter(whX, c)
    val unM = GraftS3.mountArtifactMirror(whX, c)
    try {
      val rows = (1 to 600).map(i => (i.toLong, i % 3, "c" * 120))
      val df = rows.toDF("id", "p", "pad")
      val tblX = whX.resolve("ns").resolve("t")
      GraftTable.create(spark, tblX.toString, df.schema,
        Map(GraftTable.specProp -> "identity(p)"))
      GraftTable.append(spark, tblX.toString, df)
      val tblY = whY.resolve("ns").resolve("t")
      Files.createDirectories(tblY)
      GraftS3.syncMetadata(tblY, c, "ns/t")

      val cat = "graft_rrc"
      try {
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", whY.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.endpoint", em.endpoint.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.bucket", "graft-inplace-conf")
        spark.conf.set(s"spark.sql.catalog.$cat.s3.access-key", creds.accessKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.secret-key", creds.secretKey)
        // read-in-place composes with the hydrate-on-demand FOLLOWER
        // shape (without it, the same flag upgrades the WRITER shape's
        // reads — the zero-local-lake writer door)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.hydrate-on-demand", "true")
        spark.conf.set(s"spark.sql.catalog.$cat.s3.read-in-place", "true")
        val got = spark.sql(s"SELECT id FROM $cat.ns.t WHERE p = 1")
          .as[Long].collect().toSet
        assert(got == rows.filter(_._2 == 1).map(_._1).toSet,
          "the conf-mounted in-place follower serves the pruned read")
        assert(!Files.isDirectory(tblY.resolve("data")),
          "conf-driven in-place reads hydrate nothing")
      } finally graft.lake.GraftSparkCatalog.closeConfMounts(whY.toString)
      assert(em.rejected.get == 0)
    } finally { unM.close(); unA.close(); em.close() }
  }

  test("s3.read-in-place ALONE keeps the r17 FOLLOWER meaning: no writer plane " +
      "mounts, so a local write through the catalog never touches the fleet bucket") {
    // The shape rule (CLAUDE.md): a deployed reader conf must never
    // silently upgrade into a writer that arbitrates slots and mirrors
    // foreign objects into the fleet's bucket; read-in-place joins the
    // writer shape only when s3.direct-write or
    // s3.local-cache-max-bytes is also present.
    val em = new GraftS3Server("graft-inplace-alone", creds)
    val whX = Paths.get(scratchRoot("s3-ranged", "alone-whx"))
    val whY = Paths.get(scratchRoot("s3-ranged",
      s"alone-why-${ProcessHandle.current().pid()}"))
    Files.createDirectories(whX); Files.createDirectories(whY)
    val c = em.client
    val unA = GraftS3.mountCommitArbiter(whX, c)
    val unM = GraftS3.mountArtifactMirror(whX, c)
    try {
      val rows = (1 to 600).map(i => (i.toLong, i % 3, "c" * 120))
      val df = rows.toDF("id", "p", "pad")
      val tblX = whX.resolve("ns").resolve("t")
      GraftTable.create(spark, tblX.toString, df.schema,
        Map(GraftTable.specProp -> "identity(p)"))
      GraftTable.append(spark, tblX.toString, df)
      val tblY = whY.resolve("ns").resolve("t")
      Files.createDirectories(tblY)
      GraftS3.syncMetadata(tblY, c, "ns/t")

      val cat = "graft_ripa"
      try {
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", whY.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.endpoint", em.endpoint.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.bucket", "graft-inplace-alone")
        spark.conf.set(s"spark.sql.catalog.$cat.s3.access-key", creds.accessKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.secret-key", creds.secretKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.read-in-place", "true")
        // the follower read serves in place (the r17 contract)
        val got = spark.sql(s"SELECT id FROM $cat.ns.t WHERE p = 1")
          .as[Long].collect().toSet
        assert(got == rows.filter(_._2 == 1).map(_._1).toSet,
          "read-in-place alone still serves the in-place follower read")
        assert(!Files.isDirectory(tblY.resolve("data")),
          "read-in-place alone hydrates nothing")
        // a LOCAL table created through the same catalog: a writer
        // shape would arbitrate its commit slots (and mirror its
        // artifacts) into the shared bucket — a follower must not
        spark.sql(s"CREATE TABLE $cat.ns.scratch (id BIGINT, v STRING)")
        spark.sql(s"INSERT INTO $cat.ns.scratch VALUES (1, 'a'), (2, 'b')")
        assert(spark.sql(s"SELECT count(*) FROM $cat.ns.scratch")
          .head().getLong(0) == 2L)
        assert(!em.objects.keySet.asScala.exists(_.startsWith("ns/scratch")),
          "read-in-place alone must NOT mount the writer plane: a local " +
            "write can never push objects into the fleet's bucket")
      } finally {
        scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS $cat.ns.scratch"))
        graft.lake.GraftSparkCatalog.closeConfMounts(whY.toString)
      }
      assert(em.rejected.get == 0)
    } finally { unM.close(); unA.close(); em.close() }
  }

  test("a WRITER catalog and a read-in-place FOLLOWER catalog coexist on one " +
      "warehouse: the follower's later initialize must not close the writer's " +
      "arbitration (budget presence is part of the mount identity)") {
    // cacheBudget presence became shape-determining, so it must be in
    // the registry's identity key: without it these two confs collide
    // and the follower's init would CLOSE the writer's arbiter+mirror —
    // subsequent writer commits would win no slots (split-brain)
    val em = new GraftS3Server("graft-coexist", creds)
    val wh = Paths.get(scratchRoot("s3-ranged",
      s"coexist-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    try {
      def confSet(cat: String, extra: (String, String)*): Unit = {
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.GraftSparkCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.endpoint", em.endpoint.toString)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.bucket", "graft-coexist")
        spark.conf.set(s"spark.sql.catalog.$cat.s3.access-key", creds.accessKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.secret-key", creds.secretKey)
        spark.conf.set(s"spark.sql.catalog.$cat.s3.read-in-place", "true")
        extra.foreach { case (k, v) =>
          spark.conf.set(s"spark.sql.catalog.$cat.s3.$k", v) }
      }
      try {
        // the WRITER: read-in-place + a (generous) budget
        confSet("graft_cw", "local-cache-max-bytes" -> (1L << 34).toString)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cw.ns")
        spark.sql("CREATE TABLE graft_cw.ns.w (id BIGINT, v STRING)")
        spark.sql("INSERT INTO graft_cw.ns.w VALUES (1, 'a'), (2, 'b')")
        def slots: Int =
          em.objects.keySet.asScala.count(_.startsWith("ns/w/_graft_log/"))
        val n1 = slots
        assert(n1 >= 2, s"the writer catalog must arbitrate its commits: $n1 slots")
        // the FOLLOWER on the SAME warehouse: read-in-place alone —
        // its init registers under a DISTINCT identity
        confSet("graft_cf")
        assert(spark.sql("SELECT count(*) FROM graft_cf.ns.w")
          .head().getLong(0) == 2L, "the follower catalog reads the shared table")
        // the writer's arbitration must have survived the follower's init
        spark.sql("INSERT INTO graft_cw.ns.w VALUES (3, 'c')")
        assert(slots > n1,
          "the writer still wins slots AFTER the follower catalog mounted: " +
            "its arbiter was not closed by an identity collision")
        assert(spark.sql("SELECT count(*) FROM graft_cw.ns.w")
          .head().getLong(0) == 3L)
        assert(em.rejected.get == 0)
      } finally {
        scala.util.Try(spark.sql("DROP TABLE IF EXISTS graft_cw.ns.w"))
        graft.lake.GraftSparkCatalog.closeConfMounts(wh.toString)
      }
    } finally em.close()
  }

  test("rotating a conf catalog to an INVALID conf leaves the previous valid mount " +
      "live: validation precedes the close, so commits keep arbitrating") {
    // pre-fix, rotation closed the superseded mount BEFORE validation
    // could throw: the registry kept (oldKey, CLOSED handles), the
    // invalid init failed loudly, and the catalog then ran on dead
    // mounts — commits stopped winning slots with zero error
    val em = new GraftS3Server("graft-rotbad", creds)
    val wh = Paths.get(scratchRoot("s3-ranged",
      s"rotbad-${ProcessHandle.current().pid()}"))
    Files.createDirectories(wh)
    try {
      def confOn(s: org.apache.spark.sql.SparkSession,
          extra: (String, String)*): Unit = {
        s.conf.set("spark.sql.catalog.graft_rb", "graft.lake.GraftSparkCatalog")
        s.conf.set("spark.sql.catalog.graft_rb.warehouse", wh.toString)
        s.conf.set("spark.sql.catalog.graft_rb.s3.endpoint", em.endpoint.toString)
        s.conf.set("spark.sql.catalog.graft_rb.s3.bucket", "graft-rotbad")
        s.conf.set("spark.sql.catalog.graft_rb.s3.access-key", creds.accessKey)
        s.conf.set("spark.sql.catalog.graft_rb.s3.secret-key", creds.secretKey)
        extra.foreach { case (k, v) =>
          s.conf.set(s"spark.sql.catalog.graft_rb.s3.$k", v) }
      }
      val s1 = spark.newSession()
      confOn(s1)
      try {
        s1.sql("CREATE NAMESPACE IF NOT EXISTS graft_rb.ns")
        s1.sql("CREATE TABLE graft_rb.ns.t (id BIGINT)")
        s1.sql("INSERT INTO graft_rb.ns.t VALUES (1), (2)")
        def slots: Int =
          em.objects.keySet.asScala.count(_.startsWith("ns/t/_graft_log/"))
        val n1 = slots
        assert(n1 >= 2, s"the valid mount arbitrates: $n1 slots")
        // SAME identity (same shape flags), different fullKey, invalid:
        // part-size 0 fails the loud require during initialize
        val s2 = spark.newSession()
        confOn(s2, "part-size-bytes" -> "0")
        val err = intercept[Exception] {
          s2.sql("SELECT count(*) FROM graft_rb.ns.t").collect()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(err).exists(_.contains("part-size-bytes")),
          s"the invalid rotation fails loudly: ${msgs(err).mkString(" | ")}")
        // the ORIGINAL mount must still be live: a further commit
        // through the valid session keeps winning slots
        s1.sql("INSERT INTO graft_rb.ns.t VALUES (3)")
        assert(slots > n1,
          "after a failed rotation the previous valid mount still arbitrates")
        assert(s1.sql("SELECT count(*) FROM graft_rb.ns.t")
          .head().getLong(0) == 3L)
        assert(em.rejected.get == 0)
      } finally {
        scala.util.Try(s1.sql("DROP TABLE IF EXISTS graft_rb.ns.t"))
        graft.lake.GraftSparkCatalog.closeConfMounts(wh.toString)
      }
    } finally em.close()
  }

  test("in-place scans report ranged-read custom metrics (SQLMetrics): the bytes " +
      "metric cross-checks EXACTLY against the server's own ledger") {
    val em = new GraftS3Server("graft-ranged-met", creds)
    val c = em.client
    val whX = Paths.get(scratchRoot("s3-ranged", "met-whx"))
    val whY = Paths.get(scratchRoot("s3-ranged",
      s"met-why-${ProcessHandle.current().pid()}"))
    Files.createDirectories(whX); Files.createDirectories(whY)
    val unA = GraftS3.mountCommitArbiter(whX, c)
    val unM = GraftS3.mountArtifactMirror(whX, c)
    val unH = GraftS3.mountOnDemandHydration(whY, c, readInPlace = true)
    try {
      val prnd = new java.util.Random(211L)
      val rows = (1 to 2500).map { i =>
        val pad = new Array[Byte](250); prnd.nextBytes(pad)
        (i.toLong, java.util.Base64.getEncoder.encodeToString(pad), i.toLong * 3)
      }
      val df = rows.toDF("id", "payload", "v")
      val tblX = whX.resolve("ns").resolve("mm")
      GraftTable.create(spark, tblX.toString, df.schema)
      GraftTable.append(spark, tblX.toString, df.coalesce(1))
      val tblY = whY.resolve("ns").resolve("mm")
      Files.createDirectories(tblY)
      GraftS3.syncMetadata(tblY, c, "ns/mm")
      spark.conf.set("spark.sql.catalog.graft_rmet", "graft.lake.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.graft_rmet.warehouse", whY.toString)
      em.bytesServed.clear()
      val q = spark.sql("SELECT SUM(v) AS s FROM graft_rmet.ns.mm")
      // collect(), not head(): head() builds a separate LIMIT execution
      assert(q.collect()(0).getLong(0) == rows.map(_._3).sum)
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: allNodes(s.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val m = allNodes(q.queryExecution.executedPlan)
        .filter(_.isInstanceOf[org.apache.spark.sql.execution.datasources
          .v2.BatchScanExec])
        .flatMap(_.metrics).toMap
      assert(m.contains("graftRangedBytesServed"),
        s"ranged metrics missing; have ${m.keys.mkString(", ")}")
      // task-completion accumulator updates land on the async listener
      // bus: POLL (never a fixed sleep — this box's co-tenant load can
      // stall the bus well past any constant)
      val deadline = System.currentTimeMillis + 30000
      while (m("graftRangedBytesServed").value == 0 &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      val metered = m("graftRangedBytesServed").value
      val server = em.bytesServedUnder("ns/mm/data/")
      // the server additionally serves ~1-byte size probes (one per
      // cached file-status miss) that the STREAM ledger rightly skips
      assert(metered > 0 && metered <= server && server - metered <= 16,
        s"bytes metric must match the server ledger: metered=$metered server=$server")
      assert(m("graftRangedGets").value >= 2,
        s"footer + chunk: ${m("graftRangedGets").value} GETs")
      assert(m("graftRangedVectoredRanges").value >= 1,
        s"the projected chunks ride readVectored: ${m("graftRangedVectoredRanges").value}")
      assert(m("graftRangedGets").value >= m("graftRangedVectoredRanges").value,
        "every vectored range is itself one ranged GET")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("the V1 plane reads in place too: a declared native-scan fallback on a ranged " +
      "follower transfers column bytes (not files) and hydrates only MoR deletes, " +
      "and a CDC diff read materializes nothing") {
    val em = new GraftS3Server("graft-ranged-v1", creds)
    val c = em.client
    val whX = Paths.get(scratchRoot("s3-ranged", "v1-whx"))
    val whY = Paths.get(scratchRoot("s3-ranged",
      s"v1-why-${ProcessHandle.current().pid()}"))
    Files.createDirectories(whX); Files.createDirectories(whY)
    val unA = GraftS3.mountCommitArbiter(whX, c)
    val unM = GraftS3.mountArtifactMirror(whX, c)
    val unH = GraftS3.mountOnDemandHydration(whY, c, readInPlace = true)
    try {
      val prnd = new java.util.Random(311L)
      val rows = (1L to 3000L).map { i =>
        val pad = new Array[Byte](300); prnd.nextBytes(pad)
        (i, java.util.Base64.getEncoder.encodeToString(pad))
      }
      val df = rows.toDF("id", "payload")
      val tblX = whX.resolve("ns").resolve("v1")
      GraftTable.create(spark, tblX.toString, df.schema,
        Map("write.delete.mode" -> "merge-on-read"))
      GraftTable.append(spark, tblX.toString, df.coalesce(1))
      GraftTable.deleteWhere(spark, tblX.toString, col("id") % 7 === 0)

      val tblY = whY.resolve("ns").resolve("v1")
      Files.createDirectories(tblY)
      GraftS3.syncMetadata(tblY, c, "ns/v1")
      // route the MoR snapshot to the V1 anti-join plane — one of the
      // DECLARED fallbacks (the same door eq-key overflow takes). On a
      // CLONED session: SQLConf is session-scoped, so the toggle can
      // never leak into a parallel suite's native-MoR assertions (the
      // r13 unscoped-global flake class)
      locally {
        val s2 = spark.newSession()
        s2.conf.set("spark.graft.native-scan.mor.enabled", "false")
        em.bytesServed.clear()
        val got = GraftTable.read(s2, tblY.toString)
          .select(col("id")).collect().map(_.getLong(0)).toSet
        assert(got == rows.map(_._1).filterNot(_ % 7 == 0).toSet,
          "the V1 MoR read over in-place data files is exact")
        assert(!Files.isDirectory(tblY.resolve("data")),
          "V1 data files stay remote — in-place, not hydrated")
        assert(Files.isDirectory(tblY.resolve("deletes")),
          "MoR delete files hydrate (small, read whole) on the V1 plane too")
        // the projection dropped the dominant payload column: Catalyst
        // pushes the pruning into the V1 parquet scan, so the transfer
        // is column bytes even without the native reader
        val servedData = em.bytesServedUnder("ns/v1/data/")
        val liveBytes = GraftTable.liveDataFiles(tblY.toString, Seq.empty)
          .map(_.sizeBytes).sum
        assert(servedData > 0 && servedData < liveBytes / 2,
          s"V1 in-place is column bytes: served $servedData of $liveBytes live")
      }

      // the CDC diff read (a V1-plane reader by construction) serves
      // off the store as well: nothing materializes locally
      val changed = GraftTable.changes(spark, tblY.toString, 1L, 2L)
        .filter(col("_change_type") === "delete").count()
      assert(changed == rows.count(_._1 % 7 == 0),
        "the CDC diff over in-place reads is exact")
      assert(!Files.isDirectory(tblY.resolve("data")),
        "the CDC read materializes nothing locally")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("listStatus serves sizes off the ONE list page — ZERO per-key probes — and " +
      "pre-warms the size cache for the getFileStatus that precedes every open") {
    val em = new GraftS3Server("graft-ranged-ls", creds)
    try {
      val rnd = new java.util.Random(41L)
      val sizes = (1 to 30).map { i =>
        val b = new Array[Byte](100 + rnd.nextInt(5000)); rnd.nextBytes(b)
        em.objects.put(f"dir/obj-$i%03d", b)
        f"dir/obj-$i%03d" -> b.length.toLong
      }.toMap
      val (token, unreg) = GraftRangedFs.register(em.client)
      try {
        val hc = new org.apache.hadoop.conf.Configuration()
        locally { val (k, v) = GraftRangedFs.confKey; hc.set(k, v) }
        val dir = new org.apache.hadoop.fs.Path(s"grafts3://$token/dir")
        val fs = dir.getFileSystem(hc)
        val gets0 = em.getCalls.get
        val listed = fs.listStatus(dir)
        assert(em.getCalls.get == gets0,
          "a directory listing issues ZERO size probes (ListObjectsV2 ships <Size>)")
        assert(listed.map(st =>
          st.getPath.toUri.getPath.stripPrefix("/") -> st.getLen).toMap == sizes,
          "listed sizes come off the page itself")
        // pre-warm: the getFileStatus a reader issues before open()
        // is served from the cache the listing just filled
        val gets1 = em.getCalls.get
        val one = new org.apache.hadoop.fs.Path(s"grafts3://$token/dir/obj-007")
        assert(fs.getFileStatus(one).getLen == sizes("dir/obj-007"))
        assert(em.getCalls.get == gets1, "the size cache is pre-warmed by the listing")
        // and the list-a-FILE contract: the file's own status comes back
        assert(fs.listStatus(one).map(_.getLen).toSeq == Seq(sizes("dir/obj-007")))
        assert(em.rejected.get == 0)
      } finally unreg.close()
    } finally em.close()
  }

  test("create(overwrite = false) over an existing object throws " +
      "FileAlreadyExistsException (Hadoop contract), never a silent clobber at close") {
    // stage keys are unique by construction, so a positive probe here
    // means the uniqueness invariant broke — it must fail loudly
    val em = new GraftS3Server("graft-ranged-create", creds)
    try {
      val (token, unreg) = GraftRangedFs.register(em.client)
      try {
        val hc = new org.apache.hadoop.conf.Configuration()
        locally { val (k, v) = GraftRangedFs.confKey; hc.set(k, v) }
        val p = new org.apache.hadoop.fs.Path(s"grafts3://$token/w/a")
        val fs = p.getFileSystem(hc)
        val out = fs.create(p, false)
        out.write(Array[Byte](1, 2, 3)); out.close()
        assert(fs.getFileStatus(p).getLen == 3L)
        intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
          fs.create(p, false)
        }
        // overwrite = true replaces, and the size cache follows
        val out2 = fs.create(p, true)
        out2.write(Array[Byte](9)); out2.close()
        assert(fs.getFileStatus(p).getLen == 1L)
        assert(em.objects.get("w/a").toSeq == Seq(9.toByte))
        assert(em.rejected.get == 0)
      } finally unreg.close()
    } finally em.close()
  }

  test("unregister EVICTS the token's FileSystem from Hadoop's global cache: mount " +
      "cycling cannot accumulate instances, and a stale cached client can never " +
      "serve an unmounted store") {
    val em = new GraftS3Server("graft-ranged-evict", creds)
    try {
      em.objects.put("d/x", Array[Byte](1, 2, 3))
      val (token, unreg) = GraftRangedFs.register(em.client)
      val hc = new org.apache.hadoop.conf.Configuration()
      locally { val (k, v) = GraftRangedFs.confKey; hc.set(k, v) }
      val p = new org.apache.hadoop.fs.Path(s"grafts3://$token/d/x")
      val fs1 = p.getFileSystem(hc)
      assert(fs1.getFileStatus(p).getLen == 3L)
      assert(p.getFileSystem(hc) eq fs1, "Hadoop serves the cached instance")
      unreg.close()
      // the cache entry is gone: the next lookup re-initializes, and
      // with the registry entry dropped and no fs.grafts3.<token>.*
      // conf that re-initialization fails LOUDLY instead of silently
      // serving the unmounted store through the predecessor instance
      val err = intercept[Exception] { p.getFileSystem(hc) }
      assert(err.getMessage.contains("not registered"),
        s"a fresh (non-cached) initialize must run: ${err.getMessage}")
    } finally em.close()
  }

  test("s3.vectored-concurrency live-resizes the shared vectored-read pool (the " +
      "hydration-knob pattern), with the min-2 floor") {
    val pool = GraftRangedFs.vectorPool
    val before = GraftRangedFs.vectoredConcurrency
    try {
      GraftRangedFs.vectoredConcurrency = before + 3
      assert(pool.getCorePoolSize == before + 3 &&
        pool.getMaximumPoolSize == before + 3,
        "the LIVE pool resizes — a catalog mounted after the first scan still wins")
      GraftRangedFs.vectoredConcurrency = 1
      assert(GraftRangedFs.vectoredConcurrency == 2 && pool.getCorePoolSize == 2,
        "a 1-vCPU setting still overlaps two ranges (the min-2 floor)")
    } finally GraftRangedFs.vectoredConcurrency = before
  }

  test("a Range-IGNORING store degrades the large download to ONE streamed copy — " +
      "never k whole-object heap buffers — and stays byte-identical") {
    val em = new GraftS3Server("graft-ranged-ig", creds)
    val c = em.clientWith(32 * 1024, 64 * 1024, partConcurrency = 4)
    try {
      val rnd = new java.util.Random(119L)
      val bytes = new Array[Byte](9 * 32 * 1024 + 7)
      rnd.nextBytes(bytes)
      em.objects.put("data/ig.bin", bytes)
      em.ignoreRanges = true
      val dir = Files.createDirectories(Paths.get(scratchRoot("s3-ranged", "ig")))
      val dest = dir.resolve("ig.bin")
      em.getCalls.set(0)
      c.peakBufferBytes.set(0)
      assert(c.getToFile("data/ig.bin", dest))
      assert(Files.readAllBytes(dest).toSeq == bytes.toSeq,
        "the degraded download is byte-identical")
      // the initial stream attempt + the FIRST-range probe that saw the
      // 200 and streamed the whole body: two GETs, zero range fan-out
      assert(em.getCalls.get == 2,
        s"the 200 must be detected on the FIRST range: ${em.getCalls.get} GETs")
      assert(c.peakBufferBytes.get < bytes.length,
        s"no whole-object buffer on this path: peak ${c.peakBufferBytes.get}")
      assert(em.rejected.get == 0)
    } finally { em.ignoreRanges = false; em.close() }
  }

  test("a scan ships only its own root's ranged-read credentials: two read-in-place " +
      "mounts with different keys, and a scan of A carries none of B's") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
    val pid = ProcessHandle.current().pid()
    val credsA = Credentials("SCOPEKEYA", "scope-secret-a")
    val credsB = Credentials("SCOPEKEYB", "scope-secret-b")
    val emA = new GraftS3Server("graft-scope-a", credsA)
    val emB = new GraftS3Server("graft-scope-b", credsB)
    val whA = Paths.get(scratchRoot("s3-ranged", s"scope-a-$pid"))
    val whB = Paths.get(scratchRoot("s3-ranged", s"scope-b-$pid"))
    // writer planes plus a read-in-place mount on each warehouse, then
    // every data file evicted: reads of either table go over its store
    val mounts = Seq((whA, emA.client), (whB, emB.client)).flatMap { case (wh, c) =>
      Files.createDirectories(wh)
      Seq(GraftS3.mountCommitArbiter(wh, c), GraftS3.mountArtifactMirror(wh, c),
        GraftS3.mountOnDemandHydration(wh, c, readInPlace = true))
    }
    try {
      val df = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      Seq((whA, emA.client), (whB, emB.client)).foreach { case (wh, c) =>
        val t = wh.resolve("ns").resolve("t")
        GraftTable.create(spark, t.toString, df.schema)
        GraftTable.append(spark, t.toString, df.coalesce(1))
        assert(GraftS3.evictLocalData(t, c, "ns/t").nonEmpty)
      }
      def secrets(entries: Iterable[(String, String)]): Set[String] =
        entries.filter(_._1.startsWith("fs.grafts3.")).map(_._2).toSet
      def assertScoped(entries: Iterable[(String, String)], plane: String): Unit = {
        val vals = secrets(entries)
        assert(vals.contains(credsA.accessKey) && vals.contains(credsA.secretKey),
          s"the $plane scan of A carries A's client conf")
        assert(!vals.contains(credsB.accessKey) && !vals.contains(credsB.secretKey),
          s"the $plane scan of A must not carry B's credentials")
      }

      // native plane: the hadoop conf its reader factory broadcasts
      spark.conf.set("spark.sql.catalog.graft_scope", "graft.lake.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.graft_scope.warehouse", whA.toString)
      val q = spark.sql("SELECT id, v FROM graft_scope.ns.t")
      assert(q.count() == 200L)
      val scan = q.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan
      }.getOrElse(fail("the catalog read must plan a native scan"))
      def broadcastConf(f: Any): Option[org.apache.hadoop.conf.Configuration] = f match {
        case p: ParquetPartitionReaderFactory => Some(p.broadcastedConf.value.value)
        case p: Product => p.productIterator.flatMap(broadcastConf).nextOption()
        case _ => None
      }
      val conf = broadcastConf(scan.toBatch.createReaderFactory())
        .getOrElse(fail("the reader factory must carry a broadcast hadoop conf"))
      assertScoped(conf.iterator().asScala.map(e => e.getKey -> e.getValue).toSeq, "native")

      // V1 plane: the reader options of the parquet relation
      val v1 = GraftTable.read(spark, whA.resolve("ns").resolve("t").toString)
      assert(v1.count() == 200L)
      val opts = v1.queryExecution.analyzed.collect {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
          l.relation.asInstanceOf[HadoopFsRelation].options
      }.flatten
      assertScoped(opts, "V1")
      assert(emA.rejected.get == 0 && emB.rejected.get == 0)
    } finally { mounts.reverse.foreach(_.close()); emA.close(); emB.close() }
  }
}
