package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.{GraftS3, GraftS3Server, GraftTable}
import graft.lake.GraftS3.Credentials

/** Scan-time lazy artifact hydration — the gap between a fleet
  * REPLICA and a fleet READER: the metadata plane (commit log +
  * checkpoints, KB-sized) syncs eagerly via `syncMetadata`, while
  * data/delete files pull on demand when a pruned scan actually
  * selects them (`mountOnDemandHydration`). A follower querying one
  * partition of a 100 TB table transfers that partition — proven here
  * with a byte-counting server assert that the pruned read fetched
  * EXACTLY the pruned-live file set. Local expiry becomes a real
  * cache-eviction policy: `evictLocalData` drops local copies and the
  * next scan re-hydrates. */
class S3LazyHydrationSpec extends SparkSpec {
  import spark.implicits._

  private val creds = Credentials("GRAFTKEY", "graft-lazy-secret")

  private def dataKeys(em: GraftS3Server): Set[String] =
    em.gotKeys.asScala.filter(k => k.contains("data/") || k.contains("deletes/")).toSet

  test("a metadata-only follower is a READER: the pruned scan hydrates exactly the " +
      "pruned-live files, eviction round-trips, and a full read completes the set") {
    val em = new GraftS3Server("graft-lazy", creds)
    val c = em.client
    val rootX = Paths.get(scratchRoot("s3-lazy", "x"))
    val rootY = Paths.get(scratchRoot("s3-lazy", "y"))
    val unA = GraftS3.mountCommitArbiter(rootX, c)
    val unM = GraftS3.mountArtifactMirror(rootX, c)
    val unH = GraftS3.mountOnDemandHydration(rootY, c)
    try {
      val rows = (1 to 400).map(i => (i.toLong, i % 4, s"v$i"))
      val df = rows.toDF("id", "p", "v")
      GraftTable.create(spark, rootX.toString, df.schema,
        Map(GraftTable.specProp -> "identity(p)"))
      GraftTable.append(spark, rootX.toString, df)
      val more = (401 to 500).map(i => (i.toLong, i % 4, s"v$i"))
      GraftTable.append(spark, rootX.toString, more.toDF("id", "p", "v"))

      // the follower syncs ONLY the metadata plane — zero data bytes
      Files.createDirectories(rootY)
      em.gotKeys.clear()
      val meta = GraftS3.syncMetadata(rootY, c)
      assert(meta.nonEmpty && meta.forall(_.startsWith("_graft_log/")),
        s"metadata sync pulls only the log: $meta")
      assert(dataKeys(em).isEmpty, "metadata sync must fetch zero data bytes")
      assert(!Files.isDirectory(rootY.resolve("data")),
        "no data files materialize before a read plans them")

      // the pruned scan fetches EXACTLY the pruned-live files
      em.gotKeys.clear()
      val preds = Seq(GraftTable.Eq("p", "2"))
      val (dfp, total, live) = GraftTable.scan(spark, rootY.toString, preds)
      val got = dfp.select(col("id"), col("p"), col("v"))
        .as[(Long, Int, String)].collect().toSet
      val want = (rows ++ more).filter(_._2 == 2).toSet
      assert(got == want, s"the hydrated pruned read serves the partition's rows")
      assert(live < total, s"partition pruning must skip files (live=$live total=$total)")
      val expected = GraftTable.liveDataFiles(rootY.toString, preds).map(_.path).toSet
      assert(dataKeys(em) == expected,
        s"fetched ${dataKeys(em)} must be exactly the pruned-live set $expected")
      val localData = Files.list(rootY.resolve("data")).iterator.asScala
        .map(p => s"data/${p.getFileName}").toSet
      assert(localData == expected, "only the pruned partition's files are local")

      // cache eviction: local copies drop (remote twins confirmed),
      // the next identical scan re-hydrates and serves the same rows
      val evicted = GraftS3.evictLocalData(rootY, c)
      assert(evicted.toSet == expected, s"evicted $evicted")
      assert(!Files.list(rootY.resolve("data")).iterator.asScala.hasNext,
        "eviction empties the local cache")
      em.gotKeys.clear()
      val (dfp2, _, _) = GraftTable.scan(spark, rootY.toString, preds)
      assert(dfp2.select(col("id"), col("p"), col("v"))
        .as[(Long, Int, String)].collect().toSet == want,
        "the evicted partition re-hydrates on the next scan")
      assert(dataKeys(em) == expected, "re-hydration pulls the same pruned set")

      // a FULL read completes the remaining partitions on demand
      val all = GraftTable.read(spark, rootY.toString)
        .as[(Long, Int, String)].collect().toSet
      assert(all == (rows ++ more).toSet, "the unpruned read serves everything")
      val allFiles = GraftTable.liveDataFiles(rootY.toString, Seq.empty).map(_.path).toSet
      val localAll = Files.list(rootY.resolve("data")).iterator.asScala
        .map(p => s"data/${p.getFileName}").toSet
      assert(localAll == allFiles, "the full read hydrated every live file")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("MoR deletes hydrate on demand too: a follower scan pulls the delete files a " +
      "commit references, and the CDC feed over a metadata-only sync serves live changes") {
    val em = new GraftS3Server("graft-lazy-mor", creds)
    val c = em.client
    val rootX = Paths.get(scratchRoot("s3-lazy", "mor-x"))
    val rootY = Paths.get(scratchRoot("s3-lazy", "mor-y"))
    val unA = GraftS3.mountCommitArbiter(rootX, c)
    val unM = GraftS3.mountArtifactMirror(rootX, c)
    val unH = GraftS3.mountOnDemandHydration(rootY, c)
    try {
      val rows = (1L to 200L).map(i => (i, s"v$i"))
      val df = rows.toDF("id", "v")
      GraftTable.create(spark, rootX.toString, df.schema,
        Map("write.delete.mode" -> "merge-on-read"))
      GraftTable.append(spark, rootX.toString, df)
      GraftTable.deleteWhere(spark, rootX.toString, col("id") % 10 === 0)

      Files.createDirectories(rootY)
      GraftS3.syncMetadata(rootY, c)
      assert(!Files.isDirectory(rootY.resolve("data")) &&
        !Files.isDirectory(rootY.resolve("deletes")),
        "metadata-only: no data or delete bytes yet")

      // the MoR read needs BOTH planes — data files and the delete
      // files masking them — and must hydrate both on demand
      val got = GraftTable.read(spark, rootY.toString)
        .as[(Long, String)].collect().toSet
      assert(got == rows.filterNot(_._1 % 10 == 0).toSet,
        "the hydrated MoR read applies the deletes")
      assert(Files.isDirectory(rootY.resolve("deletes")),
        "delete files hydrated alongside the data")

      // a live CDC drain over the same metadata-only follower: getBatch
      // replans per commit and hydrates what each diff touches
      val base = Files.createTempDirectory("graft-lazy-cdc")
      val seen = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      val q = GraftTable.readStreamChanges(spark, rootY.toString,
          fromExclusive = Some(0L))
        .writeStream.option("checkpointLocation", base.resolve("ck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.groupBy(col("_change_type")).count()
            .as[(String, Long)].collect()
          seen.synchronized { seen ++= n }
          ()
        }.start()
      assert(q.awaitTermination(120000), "AvailableNow must terminate")
      val byType = seen.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(byType.getOrElse("insert", 0L) == 200L &&
        byType.getOrElse("delete", 0L) == 20L,
        s"the CDC feed over a lazy follower serves the full history: $byType")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("live CDC follow of a remote table with ZERO manual sync calls: the stream's head " +
      "poll auto-syncs the metadata plane and the lazy follower hydrates each diff") {
    val em = new GraftS3Server("graft-autosync", creds)
    val c = em.client
    val rootX = Paths.get(scratchRoot("s3-lazy", "as-x"))
    val rootY = Paths.get(scratchRoot("s3-lazy", "as-y"))
    val unA = GraftS3.mountCommitArbiter(rootX, c)
    val unM = GraftS3.mountArtifactMirror(rootX, c)
    val unH = GraftS3.mountOnDemandHydration(rootY, c)
    val unS = GraftS3.mountAutoSync(rootY, c, metadataOnly = true)
    try {
      val batch1 = (1L to 50L).map(i => (i, s"a$i"))
      GraftTable.create(spark, rootX.toString, batch1.toDF("id", "v").schema)
      GraftTable.append(spark, rootX.toString, batch1.toDF("id", "v"))
      // NO bootstrap sync anywhere: even the stream's schema
      // resolution self-syncs through the poll hook on this BLANK
      // follower — the "one readStream, zero manual sync calls"
      // contract, cold start included
      Files.createDirectories(rootY)
      val base = Files.createTempDirectory("graft-autosync-ck")
      val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      val q = GraftTable.readStreamChanges(spark, rootY.toString,
          fromExclusive = Some(0L))
        .writeStream.option("checkpointLocation", base.resolve("ck").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.select(col("id"), col("v")).as[(Long, String)].collect()
          seen.synchronized { seen ++= rows }
          ()
        }.start()
      try {
        q.processAllAvailable()
        assert(seen.synchronized(seen.toSet) == batch1.toSet,
          "the initial history drains through the auto-synced follower")
        // the writer commits MORE while the stream runs — the follower
        // issues NO sync calls of its own; the next poll's hook pulls
        // the new commits and the lazy hydration pulls their files
        val batch2 = (51L to 80L).map(i => (i, s"b$i"))
        GraftTable.append(spark, rootX.toString, batch2.toDF("id", "v"))
        q.processAllAvailable()
        assert(seen.synchronized(seen.toSet) == (batch1 ++ batch2).toSet,
          "mid-stream commits surface with zero manual sync calls")
      } finally q.stop()
      // the EAGER shape (metadataOnly=false, the default): a second
      // follower with NO hydration mount — each poll's syncRemote
      // pulls the new commits' referenced files up front, so the
      // stream reads plain local parquet
      val rootZ = Paths.get(scratchRoot("s3-lazy", "as-z"))
      Files.createDirectories(rootZ)
      val unS2 = GraftS3.mountAutoSync(rootZ, c)
      try {
        val seenZ = scala.collection.mutable.ArrayBuffer[(Long, String)]()
        val q2 = GraftTable.readStreamChanges(spark, rootZ.toString,
            fromExclusive = Some(0L))
          .writeStream.option("checkpointLocation", base.resolve("ck2").toString)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = b.select(col("id"), col("v")).as[(Long, String)].collect()
            seenZ.synchronized { seenZ ++= rows }
            ()
          }.start()
        try {
          q2.processAllAvailable()
          val expectAll = (1L to 80L).map(i =>
            (i, if (i <= 50) s"a$i" else s"b$i")).toSet
          assert(seenZ.synchronized(seenZ.toSet) == expectAll,
            "the eager auto-sync follower drains the full history")
          assert(Files.isDirectory(rootZ.resolve("data")) &&
            Files.list(rootZ.resolve("data")).iterator.asScala.nonEmpty,
            "the eager shape materializes data files at sync time")
        } finally q2.stop()
      } finally unS2.close()
      assert(em.rejected.get == 0)
    } finally { unS.close(); unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("a cache budget makes the follower bounded-disk: a multi-partition query " +
      "sequence stays correct while local data bytes never exceed the budget") {
    val em = new GraftS3Server("graft-hyd-budget", creds)
    val c = em.client
    val rootX = Paths.get(scratchRoot("s3-lazy", "bud-x"))
    val rootY = Paths.get(scratchRoot("s3-lazy", "bud-y"))
    val unA = GraftS3.mountCommitArbiter(rootX, c)
    val unM = GraftS3.mountArtifactMirror(rootX, c)
    try {
      val rows = (1 to 2000).map(i => (i.toLong, i % 4, s"budget-row-$i-" + ("x" * 50)))
      val df = rows.toDF("id", "p", "v")
      GraftTable.create(spark, rootX.toString, df.schema,
        Map(GraftTable.specProp -> "identity(p)"))
      GraftTable.append(spark, rootX.toString, df)
      val totalBytes = GraftTable.liveDataFiles(rootX.toString, Seq.empty)
        .map(_.sizeBytes).sum
      val perPart = (0 to 3).map(p => GraftTable.liveDataFiles(rootX.toString,
        Seq(GraftTable.Eq("p", p.toString))).map(_.sizeBytes).sum)
      // below the table size, above any one scan's working set — the
      // regime a bounded-disk follower runs in
      val budget = (totalBytes * 2) / 5
      assert(perPart.max < budget && budget < totalBytes,
        s"spec preconditions: per-partition ${perPart} vs budget $budget")

      val unH = GraftS3.mountOnDemandHydration(rootY, c,
        maxLocalBytes = Some(budget))
      try {
        Files.createDirectories(rootY)
        GraftS3.syncMetadata(rootY, c)
        def localDataBytes: Long = {
          val dir = rootY.resolve("data")
          if (!Files.isDirectory(dir)) 0L
          else {
            val s = Files.list(dir)
            try s.iterator.asScala.filter(Files.isRegularFile(_))
              .map(Files.size).sum
            finally s.close()
          }
        }
        for (p <- 0 to 3) {
          val (dfp, _, _) = GraftTable.scan(spark, rootY.toString,
            Seq(GraftTable.Eq("p", p.toString)))
          val got = dfp.select(col("id")).as[Long].collect().toSet
          assert(got == rows.filter(_._2 == p).map(_._1).toSet,
            s"partition $p reads correctly through the budgeted cache")
          assert(localDataBytes <= budget,
            s"after scanning partition $p: ${localDataBytes} bytes local, " +
              s"budget $budget — the budget must hold between scans")
        }
        assert(localDataBytes < totalBytes,
          "eviction must have dropped earlier partitions (bounded disk is real)")
        // an evicted partition re-hydrates on demand, still within budget
        val (df0, _, _) = GraftTable.scan(spark, rootY.toString,
          Seq(GraftTable.Eq("p", "0")))
        assert(df0.select(col("id")).as[Long].collect().toSet ==
          rows.filter(_._2 == 0).map(_._1).toSet)
        assert(localDataBytes <= budget)
        assert(em.rejected.get == 0)
      } finally unH.close()
    } finally { unM.close(); unA.close(); em.close() }
  }

  test("hydration runs on its OWN transfer pool: a pool-saturating slow hydration " +
      "never delays a concurrent commit's pre-slot barrier") {
    val em = new GraftS3Server("graft-hyd-pool", creds)
    val c = em.client
    val rootX = Paths.get(scratchRoot("s3-lazy", "pool-x"))
    val rootY = Paths.get(scratchRoot("s3-lazy", "pool-y"))
    val unA = GraftS3.mountCommitArbiter(rootX, c)
    val unM = GraftS3.mountArtifactMirror(rootX, c)
    val unH = GraftS3.mountOnDemandHydration(rootY, c)
    try {
      val rows = (1L to 320L).map(i => (i, s"p$i"))
      // enough files that a follower-side full hydration saturates the
      // download pool for several delay-widths
      val df = rows.toDF("id", "v").repartition(16)
      GraftTable.create(spark, rootX.toString, df.schema)
      GraftTable.append(spark, rootX.toString, df)
      Files.createDirectories(rootY)
      GraftS3.syncMetadata(rootY, c)

      // every data GET crawls; the metadata plane and all PUTs are
      // untouched — the writer's uploads must be INDEPENDENT of this
      // generous width: the box swings ±40% under co-tenants and the
      // commit includes a real Spark write job — the assert only needs
      // commit < ONE GET-width while ~2 delay-waves of hydration run
      val delayMs = 9000L
      em.getDelayMsFor = k => if (k.startsWith("data/")) delayMs else 0L
      @volatile var hydratedCount = -1L
      val reader = new Thread(() => {
        hydratedCount = GraftTable.read(spark, rootY.toString).count()
      }, "spec-lazy-reader")
      reader.start()
      val deadline = System.nanoTime + 30e9.toLong
      while (GraftS3.pendingHydrationsUnder(rootY) == 0 &&
        System.nanoTime < deadline) Thread.sleep(20)
      assert(GraftS3.pendingHydrationsUnder(rootY) > 0,
        "the slow hydration must be in flight before the writer commits")

      // the writer's commit — mirror upload + pre-slot barrier —
      // completes while the hydration still crawls: with a SHARED pool
      // the upload would queue behind a 6 s GET and the barrier would
      // wait out the queue; with the split pool it never does
      val t0 = System.nanoTime
      GraftTable.append(spark, rootX.toString, Seq((999L, "w")).toDF("id", "v"))
      val commitMs = (System.nanoTime - t0) / 1e6
      assert(GraftS3.pendingHydrationsUnder(rootY) > 0,
        "overlap must be real: the hydration is still in flight after the commit")
      assert(commitMs < delayMs,
        s"the commit barrier must not queue behind hydration GETs: ${commitMs}ms")

      em.getDelayMsFor = _ => 0L
      reader.join(180000)
      assert(hydratedCount == 320L, s"the slow hydration still serves: $hydratedCount")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }

  test("lazy-follower guardrails: pruneRemote refuses a follower root, the directory " +
      "stream refuses too, and delete-compaction maintenance hydrates its direct reads") {
    val em = new GraftS3Server("graft-lazy-guard", creds)
    val c = em.client
    val rootX = Paths.get(scratchRoot("s3-lazy", "guard-x"))
    val rootY = Paths.get(scratchRoot("s3-lazy", "guard-y"))
    val unA = GraftS3.mountCommitArbiter(rootX, c)
    val unM = GraftS3.mountArtifactMirror(rootX, c)
    val unH = GraftS3.mountOnDemandHydration(rootY, c)
    try {
      val rows = (1L to 300L).map(i => (i, s"g$i"))
      val df = rows.toDF("id", "v")
      GraftTable.create(spark, rootX.toString, df.schema,
        Map("write.delete.mode" -> "merge-on-read"))
      GraftTable.append(spark, rootX.toString, df)
      GraftTable.deleteWhere(spark, rootX.toString, col("id") % 7 === 0)
      GraftTable.deleteWhere(spark, rootX.toString, col("id") % 11 === 0)
      Files.createDirectories(rootY)
      GraftS3.syncMetadata(rootY, c)

      // pruneRemote is WRITER-SIDE ONLY: on this root, "locally
      // absent" means "not yet hydrated" — running the hygiene op here
      // would delete every live remote object for the whole fleet
      val ex = intercept[IllegalArgumentException](GraftS3.pruneRemote(rootY, c))
      assert(ex.getMessage.contains("writer-side only"))
      assert(em.objects.keySet.asScala.exists(_.startsWith("data/")),
        "the refusal fired before any deletion")

      // the append-only directory stream cannot fire the hydrate hook
      // (it reads data/ by glob): it must refuse loudly, not silently
      // serve the already-hydrated subset
      val ex2 = intercept[IllegalArgumentException](
        GraftTable.readStreamAppendOnly(spark, rootY.toString))
      assert(ex2.getMessage.contains("readStreamChanges"))

      // delete-compaction maintenance reads its delete inputs directly
      // (not through readFiles) — those reads hydrate first now, so a
      // metadata-only follower can fold its deletes to a DV container
      assert(!Files.isDirectory(rootY.resolve("deletes")))
      GraftTable.rewriteDeletesToDV(spark, rootY.toString)
      val want = rows.filterNot(r => r._1 % 7 == 0 || r._1 % 11 == 0).toSet
      assert(GraftTable.read(spark, rootY.toString)
        .as[(Long, String)].collect().toSet == want,
        "the DV-folded follower table serves the MoR-filtered rows")

      // off the mount, pruneRemote works again (the writer shape)
      unH.close()
      val (rescued, _) = GraftS3.pruneRemote(rootX, c)
      assert(rescued.isEmpty)
      assert(em.rejected.get == 0)
    } finally {
      try unH.close() catch { case _: Throwable => () }
      unM.close(); unA.close(); em.close()
    }
  }

  test("the native DSv2 scan hydrates its post-DPP file list: a catalog-served pruned " +
      "query on a lazy follower fetches only the surviving partition") {
    val em = new GraftS3Server("graft-lazy-native", creds)
    val c = em.client
    val whX = Paths.get(scratchRoot("s3-lazy", "nat-whx"))
    // per-pid warehouse + OWN catalog name (never the shared "graft"
    // instance: Spark caches catalogs per name, and repointing the
    // shared one poisons every later suite in this JVM)
    val whY = Paths.get(scratchRoot("s3-lazy",
      s"nat-why-${ProcessHandle.current().pid()}"))
    Files.createDirectories(whX); Files.createDirectories(whY)
    val unA = GraftS3.mountCommitArbiter(whX, c)
    val unM = GraftS3.mountArtifactMirror(whX, c)
    val unH = GraftS3.mountOnDemandHydration(whY, c)
    try {
      val rows = (1 to 300).map(i => (i.toLong, i % 3, s"n$i"))
      val df = rows.toDF("id", "p", "v")
      val tblX = whX.resolve("ns").resolve("t")
      GraftTable.create(spark, tblX.toString, df.schema,
        Map(GraftTable.specProp -> "identity(p)"))
      GraftTable.append(spark, tblX.toString, df)

      val tblY = whY.resolve("ns").resolve("t")
      Files.createDirectories(tblY)
      GraftS3.syncMetadata(tblY, c, "ns/t")
      assert(!Files.isDirectory(tblY.resolve("data")))

      spark.conf.set("spark.sql.catalog.graft_lazy",
        "graft.lake.GraftSparkCatalog")
      spark.conf.set("spark.sql.catalog.graft_lazy.warehouse", whY.toString)
      em.gotKeys.clear()
      val got = spark.sql("SELECT id, v FROM graft_lazy.ns.t WHERE p = 1")
        .as[(Long, String)].collect().toSet
      assert(got == rows.filter(_._2 == 1).map(r => (r._1, r._3)).toSet,
        "the catalog-served pruned read is correct on the lazy follower")
      val fetched = dataKeys(em)
      val expected = GraftTable.liveDataFiles(tblY.toString,
        Seq(GraftTable.Eq("p", "1"))).map(f => s"ns/t/${f.path}").toSet
      assert(fetched == expected,
        s"the native scan hydrates exactly its planned files: $fetched vs $expected")
      assert(em.rejected.get == 0)
    } finally { unH.close(); unM.close(); unA.close(); em.close() }
  }
}
