package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}

import graft.lake.{GraftBatchScan, GraftTable}
import graft.sources.Tables

/** The native DSv2 batch read path: columnar scans (no Row bridge),
  * parity with the V1 plane, MoR deletes and renamed columns served
  * in-reader, runtime (DPP) file pruning, and storage-partitioned
  * joins. */
class NativeScanSpec extends SparkSpec {

  private val wh = SparkSpec.sqlWarehouse

  override def beforeAll(): Unit = {
    super.beforeAll()
    import scala.jdk.CollectionConverters._
    Seq("nsc").foreach { ns =>
      val p = java.nio.file.Paths.get(wh, ns)
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally s.close()
      }
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nsc")
  }

  private def nativeScanOf(df: DataFrame): Option[GraftBatchScan] =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftBatchScan] =>
        r.scan.asInstanceOf[GraftBatchScan]
    }

  test("eligible snapshots read through the native columnar batch scan") {
    spark.sql("""CREATE TABLE graft.nsc.cust (c_custkey BIGINT, c_name STRING,
      |c_acctbal DOUBLE, c_nationkey BIGINT)""".stripMargin)
    Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      .createOrReplaceTempView("cust_src")
    spark.sql("INSERT INTO graft.nsc.cust SELECT * FROM cust_src")

    val q = spark.sql(
      "SELECT c_custkey, c_acctbal FROM graft.nsc.cust WHERE c_acctbal > 0")
    assert(nativeScanOf(q).isDefined, "eligible table must plan native")
    val p = plan(q)
    assert(p.contains("GraftBatchScan"), s"expected native scan in plan:\n$p")
    // parity with the V1 plane (kill switch) — identical rows
    val native = q.collect().toSeq.sortBy(_.getLong(0))
    spark.conf.set("spark.graft.native-scan.enabled", "false")
    try {
      val q2 = spark.sql(
        "SELECT c_custkey, c_acctbal FROM graft.nsc.cust WHERE c_acctbal > 0")
      assert(nativeScanOf(q2).isEmpty)
      assert(q2.collect().toSeq.sortBy(_.getLong(0)) == native)
      assert(native.size == Tables.customer(spark, sf)
        .filter(col("c_acctbal") > 0).count())
    } finally spark.conf.unset("spark.graft.native-scan.enabled")
  }

  test("native scan is columnar (vectorized) and prunes columns + files") {
    val q = spark.sql(
      "SELECT c_name FROM graft.nsc.cust WHERE c_custkey = 7")
    val sc = nativeScanOf(q)
    assert(sc.isDefined)
    // stats pruning on the pushed c_custkey = 7 happened at plan time
    assert(sc.get.plannedFileCount <= 1)
    assert(sc.get.readSchema().fieldNames.toSet == Set("c_name", "c_custkey"))
    val p = plan(q)
    assert(p.contains("ColumnarToRow") || p.contains("Columnar"),
      s"native scan should feed columnar batches:\n$p")
    assert(q.collect().map(_.getString(0)).toSeq ==
      Tables.customer(spark, sf).filter(col("c_custkey") === 7)
        .select("c_name").collect().map(_.getString(0)).toSeq)
  }

  test("ADD COLUMN null-fill, time travel, MoR deletes, and renames all stay native") {
    spark.sql("CREATE TABLE graft.nsc.evo (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.nsc.evo VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graft.nsc.evo ADD COLUMN extra DOUBLE")
    spark.sql("INSERT INTO graft.nsc.evo VALUES (3, 'c', 1.5)")
    val q = spark.sql("SELECT id, v, extra FROM graft.nsc.evo ORDER BY id")
    assert(nativeScanOf(q).isDefined, "missing-column null-fill is native")
    assert(q.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.get(2)))).toSeq ==
      Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(1.5))))

    // time travel: VERSION AS OF the pre-ADD snapshot (create=0,
    // insert=1; the ALTER is commit 2), still native
    val v1 = spark.sql("SELECT * FROM graft.nsc.evo VERSION AS OF 1")
    assert(nativeScanOf(v1).isDefined)
    assert(v1.columns.toSeq == Seq("id", "v") && v1.count() == 2)

    // a rename stays NATIVE: the reader resolves which physical name
    // each file carries (round-12; previously the V1 coalesce plane)
    spark.sql("ALTER TABLE graft.nsc.evo RENAME COLUMN v TO label")
    val renamed = spark.sql("SELECT id, label FROM graft.nsc.evo ORDER BY id")
    assert(nativeScanOf(renamed).isDefined, "renames are served natively")
    assert(renamed.collect().map(_.getString(1)).toSeq == Seq("a", "b", "c"))

    // a MoR position delete stays NATIVE: the deletion-vector reader
    // applies it as a row-index filter (round-12; previously V1)
    spark.sql("""CREATE TABLE graft.nsc.mor (id BIGINT, v STRING)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.nsc.mor VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM graft.nsc.mor WHERE id = 2")
    val mor = spark.sql("SELECT id FROM graft.nsc.mor ORDER BY id")
    val morScan = nativeScanOf(mor)
    assert(morScan.isDefined && morScan.get.morDeleteCount > 0,
      "live MoR deletes are served natively via deletion vectors")
    assert(mor.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // the MoR kill switch routes back to the V1 anti-join plane
    spark.conf.set("spark.graft.native-scan.mor.enabled", "false")
    try {
      val v1 = spark.sql("SELECT id FROM graft.nsc.mor ORDER BY id")
      assert(nativeScanOf(v1).isEmpty, "mor kill switch must fall back")
      assert(v1.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    } finally spark.conf.unset("spark.graft.native-scan.mor.enabled")
  }

  test("renamed columns read natively across eras: per-file name resolution, filters, MoR compose, V1 parity") {
    spark.sql("CREATE TABLE graft.nsc.ren (id BIGINT, v STRING, n BIGINT)")
    spark.sql("INSERT INTO graft.nsc.ren VALUES (1, 'a', 10), (2, 'b', 20)")   // era 1: v, n
    spark.sql("ALTER TABLE graft.nsc.ren RENAME COLUMN v TO w")
    spark.sql("INSERT INTO graft.nsc.ren VALUES (3, 'c', 30)")                 // era 2: w, n
    spark.sql("ALTER TABLE graft.nsc.ren RENAME COLUMN w TO label")
    spark.sql("ALTER TABLE graft.nsc.ren ADD COLUMN extra DOUBLE")
    spark.sql("INSERT INTO graft.nsc.ren VALUES (4, 'd', 40, 1.5)")            // era 3: label, n, extra
    spark.sql("ALTER TABLE graft.nsc.ren RENAME COLUMN extra TO bonus")

    // twice-renamed column + renamed-after-ADD column, three file eras
    val q = spark.sql("SELECT id, label, bonus FROM graft.nsc.ren ORDER BY id")
    val sc = nativeScanOf(q)
    assert(sc.isDefined, "renamed snapshots must plan native")
    val rows = q.collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None), (3L, "c", None),
      (4L, "d", Some(1.5))), s"got $rows")

    // a filter on the renamed column is exact across eras (filters are
    // residual: parquet pushdown skips files lacking the current name)
    val f = spark.sql("SELECT id FROM graft.nsc.ren WHERE label = 'b'")
    assert(nativeScanOf(f).isDefined)
    assert(f.collect().map(_.getLong(0)).toSeq == Seq(2L))

    // parity with the V1 coalesce plane (kill switch)
    spark.conf.set("spark.graft.native-scan.enabled", "false")
    try {
      val v1 = spark.sql("SELECT id, label, bonus FROM graft.nsc.ren ORDER BY id")
      assert(nativeScanOf(v1).isEmpty)
      assert(v1.collect().map(r =>
        (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq == rows)
    } finally spark.conf.unset("spark.graft.native-scan.enabled")

    // MoR deletes compose with rename resolution in one native pass
    spark.sql("""CREATE TABLE graft.nsc.renmor (id BIGINT, v STRING)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.nsc.renmor VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("ALTER TABLE graft.nsc.renmor RENAME COLUMN v TO label")
    spark.sql("INSERT INTO graft.nsc.renmor VALUES (4, 'd')")
    spark.sql("DELETE FROM graft.nsc.renmor WHERE id IN (2, 4)")
    val m = spark.sql("SELECT id, label FROM graft.nsc.renmor ORDER BY id")
    val msc = nativeScanOf(m)
    assert(msc.isDefined && msc.get.morDeleteCount > 0,
      "rename + MoR deletes must compose natively")
    assert(m.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c")))
  }

  test("eq-delete keys on a RENAMED column stay native: per-file key remap hits old-named files") {
    spark.sql("""CREATE TABLE graft.nsc.reneq (k BIGINT, v STRING)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.nsc.reneq VALUES (1,'a'),(2,'b'),(3,'c')")  // era 1: k
    spark.sql("ALTER TABLE graft.nsc.reneq RENAME COLUMN k TO key")
    spark.sql("INSERT INTO graft.nsc.reneq VALUES (4,'d'),(5,'e')")          // era 2: key
    // keyed DELETE routes to an equality-delete file keying on 'key';
    // victims live in BOTH eras — id 2 sits in a file whose physical
    // key column is still named 'k', so the key readback must resolve
    // the old name per file or the delete silently misses it
    spark.sql("DELETE FROM graft.nsc.reneq WHERE key IN (2, 4)")
    val want = Seq((1L, "a"), (3L, "c"), (5L, "e"))
    val q = spark.sql("SELECT key, v FROM graft.nsc.reneq ORDER BY key")
    val sc = nativeScanOf(q)
    assert(sc.isDefined && sc.get.morDeleteCount > 0,
      "renamed eq-delete keys must stay on the native scan")
    assert(q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == want)
    // a projection that PRUNES the key column still applies the delete
    // (the key reads back through the extended schema, old name or new)
    val p = spark.sql("SELECT v FROM graft.nsc.reneq ORDER BY v")
    assert(nativeScanOf(p).isDefined)
    assert(p.collect().map(_.getString(0)).toSeq == Seq("a", "c", "e"))
    // V1 parity (kill switch)
    spark.conf.set("spark.graft.native-scan.enabled", "false")
    try {
      val v1 = spark.sql("SELECT key, v FROM graft.nsc.reneq ORDER BY key")
      assert(nativeScanOf(v1).isEmpty)
      assert(v1.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == want)
    } finally spark.conf.unset("spark.graft.native-scan.enabled")
  }

  test("oversized equality-delete key sets fall back to the distributed V1 anti-join") {
    spark.sql("""CREATE TABLE graft.nsc.eqcap (id BIGINT, v STRING)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO graft.nsc.eqcap VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM graft.nsc.eqcap WHERE id IN (2)")   // eq-delete routed
    // under the default cap the keyed delete serves natively...
    val q = spark.sql("SELECT id FROM graft.nsc.eqcap ORDER BY id")
    assert(nativeScanOf(q).exists(_.morDeleteCount > 0))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // ...but a cap below the key files' size refuses the per-executor
    // hash set and takes the distributed anti-join, same rows
    spark.conf.set("spark.graft.native-scan.eq.max-bytes", "1")
    try {
      val v1 = spark.sql("SELECT id FROM graft.nsc.eqcap ORDER BY id")
      assert(nativeScanOf(v1).isEmpty, "oversized eq keys must fall back")
      assert(v1.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    } finally spark.conf.unset("spark.graft.native-scan.eq.max-bytes")
  }

  test("runtime (DPP) filtering prunes partition files at execution time") {
    spark.sql("""CREATE TABLE graft.nsc.sales (day_k BIGINT, amount DOUBLE)
      |PARTITIONED BY (day_k)""".stripMargin)
    import spark.implicits._
    (0L until 8L).map(d => (d, d * 10.0)).toDF("day_k", "amount")
      .repartition(1).createOrReplaceTempView("sales_src")
    spark.sql("INSERT INTO graft.nsc.sales SELECT * FROM sales_src")
    spark.sql("CREATE TABLE graft.nsc.dim (day_k BIGINT, tag STRING)")
    spark.sql("INSERT INTO graft.nsc.dim VALUES (1, 'keep'), (2, 'keep'), (5, 'drop')")

    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val q = spark.sql("""SELECT s.day_k, s.amount, d.tag
        |FROM graft.nsc.sales s JOIN graft.nsc.dim d ON s.day_k = d.day_k
        |WHERE d.tag = 'keep'""".stripMargin)
      val sc = nativeScanOf(q)
      assert(sc.isDefined)
      val planText = plan(q)
      assert(planText.contains("dynamicpruning"),
        s"expected a runtime pruning subquery:\n$planText")
      val rows = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(rows == Seq((1L, 10.0), (2L, 20.0)))
      // 8 single-day files planned; the runtime filter kept only day 1+2
      assert(sc.get.plannedFileCount == 8, s"planned ${sc.get.plannedFileCount}")
      assert(sc.get.liveFileCount == 2,
        s"runtime filter should keep 2 of 8 files, kept ${sc.get.liveFileCount}")
      // the planned partitions cover exactly the kept files: the
      // planning memo never serves the pre-filter list
      def plannedDays(scan: GraftBatchScan): Set[Long] = {
        val paths = scan.planInputPartitions().toSeq.flatMap {
          case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
          case other => fail(s"unexpected partition $other")
        }.distinct
        spark.read.parquet(paths: _*).select("day_k").distinct()
          .collect().map(_.getLong(0)).toSet
      }
      assert(plannedDays(sc.get) == Set(1L, 2L))
      // the same on a scan driven by hand: plan, runtime-filter, re-plan
      val fresh = nativeScanOf(spark.sql("SELECT day_k, amount FROM graft.nsc.sales")).get
      assert(plannedDays(fresh) == (0L until 8L).toSet)
      fresh.filter(Array[Filter](In("day_k", Array[Any](3L, 6L))))
      assert(plannedDays(fresh) == Set(3L, 6L))
    } finally
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  test("a native scan plans once per query: one reader factory, one hydration, no unused factories") {
    spark.sql("""CREATE TABLE graft.nsc.once (id BIGINT, v STRING)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    import spark.implicits._
    (0L until 200L).map(i => (i, s"v${i % 10}")).toDF("id", "v")
      .coalesce(1).createOrReplaceTempView("once_src")
    spark.sql("INSERT INTO graft.nsc.once SELECT * FROM once_src")
    val root = s"$wh/nsc/once"
    GraftTable.deleteWhereMoR(spark, root, col("id") % 7 === 0)          // position
    GraftTable.deleteEqualityMoR(spark, root, Seq("v3").toDF("v"))      // equality
    val oracle = (0L until 200L).filter(i => i % 7 != 0 && i % 10 != 3)

    // counts hydration dispatches for this table's root
    val dispatches = new java.util.concurrent.atomic.AtomicInteger
    val counting = graft.lake.LakeStore.bind(java.nio.file.Paths.get(root))(below =>
      new graft.lake.LakeStore.Layer(below) {
        override def hydrate(r: java.nio.file.Path, rels: Seq[String]): Unit = {
          dispatches.incrementAndGet()
          below.hydrate(r, rels)
        }
      })
    try {
      val q = spark.sql("SELECT id, v FROM graft.nsc.once")
      val sc = nativeScanOf(q).get
      assert(sc.morDeleteCount >= 2)
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == oracle)
      assert(dispatches.get == 1, s"one hydration per query, saw ${dispatches.get}")
      assert(sc.createReaderFactory() eq sc.createReaderFactory())
      // plain + extended + position-delete + one equality group; no DV
      // factory: the snapshot has no DV files
      assert(sc.parquetFactoryBuilds == 4, s"built ${sc.parquetFactoryBuilds} factories")
      assert(!sc.dvFactoryBuilt)

      val q2 = spark.sql("SELECT id FROM graft.nsc.once WHERE id >= 100")
      assert(q2.collect().map(_.getLong(0)).sorted.toSeq == oracle.filter(_ >= 100))
      assert(dispatches.get == 2, s"one hydration per query, saw ${dispatches.get}")
    } finally counting.close()
  }

  test("storage-partitioned join: co-partitioned graft tables join with no shuffle") {
    spark.sql("""CREATE TABLE graft.nsc.spj_a (k BIGINT, a DOUBLE)
      |PARTITIONED BY (k)""".stripMargin)
    spark.sql("""CREATE TABLE graft.nsc.spj_b (k BIGINT, b STRING)
      |PARTITIONED BY (k)""".stripMargin)
    import spark.implicits._
    (0L until 6L).flatMap(k => Seq.fill(4)((k, k * 1.0))).toDF("k", "a")
      .createOrReplaceTempView("spj_a_src")
    (0L until 6L).map(k => (k, s"t$k")).toDF("k", "b")
      .createOrReplaceTempView("spj_b_src")
    spark.sql("INSERT INTO graft.nsc.spj_a SELECT * FROM spj_a_src")
    spark.sql("INSERT INTO graft.nsc.spj_b SELECT * FROM spj_b_src")

    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql("""SELECT a.k, a.a, b.b
        |FROM graft.nsc.spj_a a JOIN graft.nsc.spj_b b ON a.k = b.k""".stripMargin)
      val sc = nativeScanOf(q)
      assert(sc.isDefined && sc.get.keyGrouped, "scan should be key-grouped")
      val rows = q.collect()
      assert(rows.length == 24)
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"storage-partitioned join must not shuffle either side:\n$p")
      // parity under the kill switch (shuffled join, same rows)
      spark.conf.set("spark.graft.native-scan.enabled", "false")
      val q2 = spark.sql("""SELECT a.k, a.a, b.b
        |FROM graft.nsc.spj_a a JOIN graft.nsc.spj_b b ON a.k = b.k""".stripMargin)
      assert(q2.collect().map(_.toString).sorted.toSeq ==
        rows.map(_.toString).sorted.toSeq)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.native-scan.enabled")
    }
  }

  test("storage-partitioned join over BUCKET-partitioned tables (FunctionCatalog-resolved)") {
    spark.sql("""CREATE TABLE graft.nsc.bkt_a (k BIGINT, a DOUBLE)
      |PARTITIONED BY (bucket(3, k))""".stripMargin)
    spark.sql("""CREATE TABLE graft.nsc.bkt_b (k BIGINT, b STRING)
      |PARTITIONED BY (bucket(3, k))""".stripMargin)
    import spark.implicits._
    (0L until 30L).map(k => (k, k * 1.0)).toDF("k", "a")
      .createOrReplaceTempView("bkt_a_src")
    (0L until 30L).map(k => (k, s"t$k")).toDF("k", "b")
      .createOrReplaceTempView("bkt_b_src")
    spark.sql("INSERT INTO graft.nsc.bkt_a SELECT * FROM bkt_a_src")
    spark.sql("INSERT INTO graft.nsc.bkt_b SELECT * FROM bkt_b_src")

    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql("""SELECT a.k, a.a, b.b
        |FROM graft.nsc.bkt_a a JOIN graft.nsc.bkt_b b ON a.k = b.k""".stripMargin)
      val sc = nativeScanOf(q)
      assert(sc.isDefined && sc.get.keyGrouped, "bucketed scan should be key-grouped")
      val rows = q.collect()
      assert(rows.length == 30)
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucket SPJ must not shuffle either side:\n$p")
      // parity under the kill switch
      spark.conf.set("spark.graft.native-scan.enabled", "false")
      val q2 = spark.sql("""SELECT a.k, a.a, b.b
        |FROM graft.nsc.bkt_a a JOIN graft.nsc.bkt_b b ON a.k = b.k""".stripMargin)
      assert(q2.collect().map(_.toString).sorted.toSeq ==
        rows.map(_.toString).sorted.toSeq)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.native-scan.enabled")
    }
  }

  test("the catalog's bucket function matches the write-side transform exactly") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val bound = graft.lake.GraftBucketFunction.bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    // write-side rendering: pmod(crc32(cast(col as string)), n)
    import spark.implicits._
    val expected = Seq(17L, 0L, 999999L, -5L).toDF("c")
      .selectExpr("pmod(crc32(cast(c as string)), 3) AS b")
      .collect().map(_.getLong(0).toInt).toSeq
    val got = Seq(17L, 0L, 999999L, -5L).map(v =>
      bound.produceResult(InternalRow(3, v)).toInt)
    assert(got == expected, s"function/write-transform mismatch: $got vs $expected")
    assert(bound.produceResult(InternalRow(3, null)) == null)
    // string flavor agrees too
    val bs = graft.lake.GraftBucketFunction.bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.StringType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    val expS = Seq("a", "BUILDING", "").toDF("c")
      .selectExpr("pmod(crc32(cast(c as string)), 4) AS b")
      .collect().map(_.getLong(0).toInt).toSeq
    val gotS = Seq("a", "BUILDING", "").map(v =>
      bs.produceResult(InternalRow(4, UTF8String.fromString(v))).toInt)
    assert(gotS == expS)
  }

  test("MoR deletion vectors: batch-crossing position deletes, pruned-key equality deletes, sequence rule") {
    spark.sql("""CREATE TABLE graft.nsc.dv (id BIGINT, grp BIGINT, v STRING)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    import spark.implicits._
    // one 12k-row file: deletes must apply across several 4096-row
    // vectorized batches (deletion-vector cursor carry), including a
    // fully-deleted leading batch
    (0L until 12000L).map(i => (i, i % 5, s"v${i % 11}")).toDF("id", "grp", "v")
      .coalesce(1).createOrReplaceTempView("dv_src")
    spark.sql("INSERT INTO graft.nsc.dv SELECT * FROM dv_src")
    spark.sql("DELETE FROM graft.nsc.dv WHERE id < 5000")      // leading batches
    // scattered delete (non-Filter-convertible predicate → direct API)
    GraftTable.deleteWhereMoR(spark, s"$wh/nsc/dv", col("id") % 7 === 0)
    // equality delete keyed on a column the projection below PRUNES —
    // the reader adds it back internally and strips it before output
    GraftTable.deleteEqualityMoR(spark, s"$wh/nsc/dv", Seq("v3", "v8").toDF("v"))
    // post-delete append: the sequence rule must NOT delete these rows
    spark.sql("INSERT INTO graft.nsc.dv VALUES (100000, 1, 'v3'), (100001, 2, 'v8')")

    val oracle: Seq[Long] =
      ((0L until 12000L).filter(i => i >= 5000 && i % 7 != 0)
        .filterNot(i => Set(3L, 8L).contains(i % 11)) ++
        Seq(100000L, 100001L)).sorted

    val q = spark.sql("SELECT id FROM graft.nsc.dv")   // v pruned away
    val sc = nativeScanOf(q)
    assert(sc.isDefined && sc.get.morDeleteCount >= 3,
      s"native scan must carry the live delete files, got ${sc.map(_.morDeleteCount)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == oracle)
    val q2 = spark.sql("SELECT id, grp, v FROM graft.nsc.dv WHERE grp = 1")
    assert(nativeScanOf(q2).isDefined)
    val nativeRows = q2.collect().map(_.toString).sorted.toSeq
    // row-based (non-vectorized) reader: same truncation + filtering
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try {
      val qr = spark.sql("SELECT id FROM graft.nsc.dv")
      assert(nativeScanOf(qr).isDefined)
      assert(qr.collect().map(_.getLong(0)).sorted.toSeq == oracle)
    } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    // V1 anti-join plane parity
    spark.conf.set("spark.graft.native-scan.enabled", "false")
    try {
      assert(spark.sql("SELECT id FROM graft.nsc.dv")
        .collect().map(_.getLong(0)).sorted.toSeq == oracle)
      assert(spark.sql("SELECT id, grp, v FROM graft.nsc.dv WHERE grp = 1")
        .collect().map(_.toString).sorted.toSeq == nativeRows)
    } finally spark.conf.unset("spark.graft.native-scan.enabled")
  }

  test("randomized MoR lifecycles read identical rows through the native and V1 planes") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (lc <- 0 until 3) {
      // lifecycle 2 is identity-partitioned: deletion vectors must
      // compose with partition pruning and key-grouped planning
      val part = if (lc == 2) " PARTITIONED BY (grp)" else ""
      spark.sql(s"""CREATE TABLE graft.nsc.rl$lc
        |(id BIGINT, grp BIGINT, v STRING, tag0 STRING)$part
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        | 'graft.delete.files-per-shard'='1', 'graft.delete.rows-per-shard'='4')"""
        .stripMargin)
      val root = s"$wh/nsc/rl$lc"
      // the payload column renames mid-lifecycle (tag0 -> tag1 -> ...):
      // the native reader must resolve each file era's physical name
      var tagGen = 0
      def tag = s"tag$tagGen"
      // the eq-KEY column renames too (v -> v1 -> ...): every later
      // equality delete keys on the NEW name while older files carry
      // the old physical name — the per-file key-ordinal remap
      var vGen = 0
      def vName = if (vGen == 0) "v" else s"v$vGen"
      var oracle = Vector.empty[(Long, Long, String, String)]
      def check(): Unit = {
        val q = spark.sql(s"SELECT id, grp, $vName, $tag FROM graft.nsc.rl$lc")
        if (GraftTable.state(root).files.exists(_.isDelete))
          assert(nativeScanOf(q).exists(_.morDeleteCount > 0),
            s"lifecycle $lc must stay native under live deletes")
        val got = q.as[(Long, Long, String, String)].collect().toVector.sorted
        assert(got == oracle.sorted,
          s"lifecycle $lc: ${got.size} rows vs oracle ${oracle.size}, first diff " +
            s"${(got.diff(oracle.sorted) ++ oracle.sorted.diff(got)).headOption}")
      }
      // prologue: era-1 rows land under physical key name 'v', then
      // the key column renames — EVERY equality delete below must
      // remap its key ordinal on these files or silently miss them
      val pro = (0 until 4).map(i => (i.toLong, i % 4L, s"w${i % 9}", "t0"))
      oracle ++= pro
      pro.toDF("id", "grp", "v", tag).createOrReplaceTempView("rl_src")
      spark.sql(s"INSERT INTO graft.nsc.rl$lc SELECT * FROM rl_src")
      spark.sql(s"ALTER TABLE graft.nsc.rl$lc RENAME COLUMN v TO v1")
      vGen = 1
      for (op <- 0 until 12) {
        rnd.nextInt(5) match {
          case 0 | 1 =>   // append a handful of rows (dup ids welcome)
            val rows = (0 until 3 + rnd.nextInt(6)).map(_ =>
              (rnd.nextInt(40).toLong, rnd.nextInt(4).toLong,
                s"w${rnd.nextInt(9)}", s"t${rnd.nextInt(5)}"))
            oracle ++= rows
            rows.toDF("id", "grp", vName, tag).createOrReplaceTempView("rl_src")
            spark.sql(s"INSERT INTO graft.nsc.rl$lc SELECT * FROM rl_src")
          case 2 =>       // predicate position delete
            val cut = rnd.nextInt(40)
            val keepGrp = rnd.nextInt(4)
            spark.sql(
              s"DELETE FROM graft.nsc.rl$lc WHERE id >= $cut AND grp = $keepGrp")
            oracle = oracle.filterNot(r => r._1 >= cut && r._2 == keepGrp)
          case 3 =>       // sharded equality delete on the (renamed) key
            val vs = Seq.fill(1 + rnd.nextInt(3))(s"w${rnd.nextInt(9)}").distinct
            GraftTable.deleteEqualityMoR(spark, root, vs.toDF(vName))
            oracle = oracle.filterNot(r => vs.contains(r._3))
          case 4 =>       // rename a column: older files keep their era's
            // physical name; reads must stay native regardless. The
            // KEY column renames only while no live eq-delete keys on
            // it (the DDL rule); the tag column renames any time.
            val keyLocked = GraftTable.state(root).files
              .exists(f => f.isDelete && f.content.contains(2))
            if (keyLocked || rnd.nextBoolean()) {
              spark.sql(s"ALTER TABLE graft.nsc.rl$lc RENAME COLUMN $tag TO tag${tagGen + 1}")
              tagGen += 1
            } else {
              spark.sql(s"ALTER TABLE graft.nsc.rl$lc RENAME COLUMN $vName TO v${vGen + 1}")
              vGen += 1
            }
        }
        check()
      }
      // end-of-life V1 parity on the composed delete + rename state
      val native = spark.sql(s"SELECT id, grp, $vName, $tag FROM graft.nsc.rl$lc")
        .collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.graft.native-scan.enabled", "false")
      try assert(spark.sql(s"SELECT id, grp, $vName, $tag FROM graft.nsc.rl$lc")
        .collect().map(_.toString).sorted.toSeq == native)
      finally spark.conf.unset("spark.graft.native-scan.enabled")
    }
  }

  test("A/B: native MoR read vs the V1 anti-join plane (timing in spec log)") {
    spark.sql("""CREATE TABLE graft.nsc.ab (id BIGINT, grp BIGINT, v DOUBLE)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    import spark.implicits._
    (0L until 200000L).map(i => (i, i % 97, i * 0.5)).toDF("id", "grp", "v")
      .coalesce(2).createOrReplaceTempView("ab_src")
    spark.sql("INSERT INTO graft.nsc.ab SELECT * FROM ab_src")
    GraftTable.deleteWhereMoR(spark, s"$wh/nsc/ab", col("id") % 10 === 0)  // 10%
    def run(): (Long, Double) = {
      val r = spark.sql(
        "SELECT COUNT(*) AS n, SUM(v) AS s FROM graft.nsc.ab WHERE grp < 50").head()
      (r.getLong(0), r.getDouble(1))
    }
    def time(passes: Int): (Double, (Long, Double)) = {
      var best = Double.MaxValue; var out: (Long, Double) = null
      (0 until passes).foreach { _ =>
        val t0 = System.nanoTime(); out = run()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, out)
    }
    val sc = nativeScanOf(spark.sql("SELECT id FROM graft.nsc.ab"))
    assert(sc.exists(_.morDeleteCount > 0), "A/B table must read natively")
    val (tNative, rNative) = time(3)
    spark.conf.set("spark.graft.native-scan.mor.enabled", "false")
    val (tV1, rV1) =
      try time(3) finally spark.conf.unset("spark.graft.native-scan.mor.enabled")
    info(f"[mor-ab] native=$tNative%.3fs v1-bridge=$tV1%.3fs (${tV1 / tNative}%.2fx)")
    assert(rNative == rV1, s"planes disagree: $rNative vs $rV1")
    val expectN = (0L until 200000L).count(i => i % 10 != 0 && i % 97 < 50)
    assert(rNative._1 == expectN, s"count ${rNative._1} != oracle $expectN")
  }

  test("A/B: rename-native read vs the V1 coalesce plane (timing in spec log)") {
    spark.sql("CREATE TABLE graft.nsc.renab (id BIGINT, v STRING, x DOUBLE)")
    import spark.implicits._
    (0L until 750000L).map(i => (i, s"w${i % 997}", i * 0.5)).toDF("id", "v", "x")
      .coalesce(3).createOrReplaceTempView("renab_src")
    spark.sql("INSERT INTO graft.nsc.renab SELECT * FROM renab_src")   // era 1: v
    spark.sql("ALTER TABLE graft.nsc.renab RENAME COLUMN v TO label")
    (750000L until 1500000L).map(i => (i, s"w${i % 997}", i * 0.5))
      .toDF("id", "label", "x").coalesce(3).createOrReplaceTempView("renab_src2")
    spark.sql("INSERT INTO graft.nsc.renab SELECT * FROM renab_src2") // era 2: label
    def run(): (Long, Double) = {
      // full-table string+double aggregate: the cost difference is the
      // read plane itself (columnar batches vs the V1 Row bridge)
      val r = spark.sql("""SELECT COUNT(DISTINCT label) AS n,
        SUM(x * LENGTH(label)) AS s FROM graft.nsc.renab""").head()
      (r.getLong(0), r.getDouble(1))
    }
    def time(passes: Int): (Double, (Long, Double)) = {
      var best = Double.MaxValue; var out: (Long, Double) = null
      (0 until passes).foreach { _ =>
        val t0 = System.nanoTime(); out = run()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, out)
    }
    assert(nativeScanOf(spark.sql("SELECT id FROM graft.nsc.renab")).isDefined,
      "A/B table must read natively despite the rename")
    val (tNative, rNative) = time(3)
    spark.conf.set("spark.graft.native-scan.enabled", "false")
    val (tV1, rV1) =
      try time(3) finally spark.conf.unset("spark.graft.native-scan.enabled")
    info(f"[rename-ab] native=$tNative%.3fs v1-coalesce=$tV1%.3fs (${tV1 / tNative}%.2fx)")
    assert(rNative == rV1, s"planes disagree: $rNative vs $rV1")
  }

  test("_row_id serves through the native scan: base, materialized, null, MoR-composed") {
    import spark.implicits._
    spark.sql("""CREATE TABLE graft.nsc.rid (id BIGINT, v STRING)
      |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
      | 'write.wap.enabled'='true')""".stripMargin)
    val root = s"$wh/nsc/rid"
    spark.sql("INSERT INTO graft.nsc.rid SELECT id, concat('v', id) FROM range(100)")
    val q = spark.sql("SELECT _row_id, id FROM graft.nsc.rid")
    assert(nativeScanOf(q).isDefined, "lineage reads must plan native now")
    val base = q.collect().map(r => (r.getLong(1), r.getLong(0))).toMap
    assert(base.size == 100 && base.values.toSet.size == 100)

    // MoR delete composes with lineage: survivors keep their ids
    GraftTable.deleteWhereMoR(spark, root, col("id") % 10 === 3)
    val q2 = spark.sql("SELECT _row_id, id FROM graft.nsc.rid")
    assert(nativeScanOf(q2).exists(_.morDeleteCount > 0))
    val after = q2.collect().map(r => (r.getLong(1), r.getLong(0))).toMap
    assert(after.size == 90 && after.forall { case (id, rid) => base(id) == rid })

    // compaction MATERIALIZES ids; still native, identity preserved
    GraftTable.rewriteDataFiles(spark, root)
    val q3 = spark.sql("SELECT _row_id, id FROM graft.nsc.rid")
    assert(nativeScanOf(q3).isDefined)
    val rw = q3.collect().map(r => (r.getLong(1), r.getLong(0))).toMap
    assert(rw == after, "identity must survive compaction through the native plane")

    // staged (pre-publish) rows audit-read with NULL _row_id
    val stagedId = GraftTable.appendStaged(spark, root,
      Seq((500L, "s")).toDF("id", "v"), "rid_wap")
    val audit = spark.sql(s"SELECT _row_id, id FROM graft.nsc.rid VERSION AS OF $stagedId")
    assert(nativeScanOf(audit).isDefined)
    val srows = audit.collect().filter(_.getLong(1) == 500L)
    assert(srows.length == 1 && srows.head.isNullAt(0),
      "staged rows have no lineage id until publish")

    // V1 parity on the composed state
    spark.conf.set("spark.graft.native-scan.enabled", "false")
    try {
      val v1 = spark.sql("SELECT _row_id, id FROM graft.nsc.rid")
      assert(nativeScanOf(v1).isEmpty)
      assert(v1.collect().map(r => (r.getLong(1), r.getLong(0))).toMap == rw)
    } finally spark.conf.unset("spark.graft.native-scan.enabled")
  }

  test("native LIMIT pushdown reads a file subset; aggregates still answered from metadata") {
    // 3 insert commits = 3 files; LIMIT 2 needs only the first file
    spark.sql("CREATE TABLE graft.nsc.lim (id BIGINT)")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO graft.nsc.lim VALUES (${i * 2}), (${i * 2 + 1})"))
    val totalFiles = GraftTable.state(s"$wh/nsc/lim").files.count(_.isData)
    val q = spark.sql("SELECT id FROM graft.nsc.lim LIMIT 2")
    val sc = nativeScanOf(q)
    assert(sc.isDefined && sc.get.plannedFileCount <= 2 &&
      sc.get.plannedFileCount < totalFiles,
      s"LIMIT 2 should read a file subset, planned ${sc.map(_.plannedFileCount)} of $totalFiles")
    assert(q.collect().length == 2)
    // COUNT(*) keeps the metadata-only path (no batch scan at all)
    val c = spark.sql("SELECT COUNT(*) AS n FROM graft.nsc.lim")
    assert(nativeScanOf(c).isEmpty)
    assert(c.head().getLong(0) == 6L)
  }
}
