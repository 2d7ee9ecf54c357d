package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.lake.{GraftLocalFs, GraftTable, LakeStore}

/** graft's own parquet writes stage on [[GraftLocalFs]]: no `.crc`
  * sidecar and no `_SUCCESS` marker in a stage, the file modes Hadoop
  * would set, and the session's `file://` filesystem left as it was.
  * Also: equality-delete key files are read with their footer schema,
  * so a MoR read runs no schema-inference job. */
class LocalStageSpec extends SparkSpec {
  import spark.implicits._

  private val pid = ProcessHandle.current().pid()

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Checksum sidecars and job markers anywhere under `dir`. */
  private def debris(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".crc") || n == "_SUCCESS"
    }.map(_.toString).toList
    finally s.close()
  }

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  test("GraftLocalFs sets all 512 modes through NIO; a sticky bit falls back to Hadoop") {
    val dir = Paths.get(scratchRoot("local-stage-spec", s"modes-$pid"))
    Files.createDirectories(dir)
    val fs = new GraftLocalFs
    fs.initialize(URI.create("file:///"), spark.sessionState.newHadoopConf())
    val f = Files.createFile(dir.resolve("f"))
    (0 until 512).foreach { m =>
      fs.setPermission(new org.apache.hadoop.fs.Path(f.toUri), new FsPermission(m.toShort))
      assert(mode(f) == m, f"mode $m%04o came out as ${mode(f)}%04o")
    }
    val d = Files.createDirectory(dir.resolve("d"))
    val sticky = Integer.parseInt("1755", 8)
    fs.setPermission(new org.apache.hadoop.fs.Path(d.toUri), new FsPermission(sticky.toShort))
    assert(mode(d) == sticky, f"sticky dir mode came out as ${mode(d)}%04o")
  }

  test("append, MoR delete, equality upsert and checkpoint stage without .crc or _SUCCESS") {
    val root = Paths.get(scratchRoot("local-stage-spec", s"table-$pid")).toAbsolutePath.normalize
    val found = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val placed = new AtomicInteger
    val checkpoints = new AtomicInteger
    val h = LakeStore.bind(root)(below => new LakeStore.Layer(below) {
      override def place(src: Path, dst: Path): Unit = {
        placed.incrementAndGet()
        val stage = Iterator.iterate(src)(_.getParent)
          .find(_.getFileName.toString.startsWith(".stage-")).get
        found.addAll(debris(stage).asJava)
        below.place(src, dst)
      }
      override def checkpointPlaced(dir: Path): Unit = {
        checkpoints.incrementAndGet()
        found.addAll(debris(dir).asJava)
        below.checkpointPlaced(dir)
      }
    })
    try {
      val r = root.toString
      GraftTable.create(spark, r, StructType(Seq(
        StructField("id", LongType), StructField("v", StringType))))
      GraftTable.append(spark, r, (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v"))
      GraftTable.deleteWhereMoR(spark, r, col("id") < 3)
      GraftTable.upsertEqualityMoR(spark, r, Seq((5L, "new")).toDF("id", "v"), Seq("id"))
      GraftTable.rewriteManifests(r)
      val rows = GraftTable.read(spark, r).as[(Long, String)].collect().sorted.toSeq
      assert(rows == (3L until 20L).map(i => (i, if (i == 5L) "new" else s"v$i")))
      assert(placed.get >= 4 && checkpoints.get == 1,
        s"placed ${placed.get} artifacts, ${checkpoints.get} checkpoints")
      assert(found.isEmpty, s"stage debris at place time: ${found.asScala.mkString(", ")}")

      val conf = spark.sessionState.newHadoopConf()
      val want = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)).toShort.toInt
      val published = Seq("data", "deletes").flatMap(d => files(root.resolve(d))) ++
        files(root.resolve("_graft_log")).filter(_.toString.contains("ckptfiles-"))
      assert(published.exists(_.toString.contains("/deletes/")) &&
        published.exists(_.toString.contains("ckptfiles-")), published.mkString(", "))
      published.foreach { p =>
        assert(mode(p) == want, f"$p has mode ${mode(p)}%04o, Hadoop sets $want%04o")
      }

      assert(Option(conf.get("fs.file.impl")).isEmpty)
      assert(Option(spark.sparkContext.hadoopConfiguration.get("fs.file.impl")).isEmpty)
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFileSystem])
    } finally h.close()
  }

  test("equality-delete keys written before an INT->LONG widening still apply, with no inference job") {
    val r = scratchRoot("local-stage-spec", s"eqwiden-$pid")
    GraftTable.create(spark, r, StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType))))
    GraftTable.append(spark, r, (0 until 10).map(i => (i, s"a$i")).toDF("k", "v"))
    GraftTable.deleteEqualityMoR(spark, r, Seq(2, 7).toDF("k"))
    GraftTable.widenColumn(r, "k", LongType)
    // committed after the delete: the sequence rule keeps it
    GraftTable.append(spark, r, Seq((7L, "b7")).toDF("k", "v"))

    val (rows, t) = traced(GraftTable.read(spark, r).as[(Long, String)].collect().sorted.toSeq)
    val want = (0L until 10L).filterNot(Set(2L, 7L)).map(i => (i, s"a$i")) :+ ((7L, "b7"))
    assert(rows == want.sorted)
    assert(t.jobs > 0, "the read ran no job in its group")
    assert(t.bareJobs.isEmpty,
      s"jobs outside any SQL execution (schema inference): ${t.bareJobs.mkString(", ")}")
  }
}
