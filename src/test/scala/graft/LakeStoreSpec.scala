package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.lake.{GraftS3, GraftS3Server, GraftTable, LakeStore}
import graft.lake.GraftS3.Credentials

/** The per-root storage registry: LakeStore.bind / LakeStore.at. A path
  * resolves to the store bound at its longest component-wise root
  * prefix, every store hands what it does not serve to the store below
  * it, and closing a binding removes exactly that binding. */
class LakeStoreSpec extends SparkSpec {
  import spark.implicits._

  private val creds = Credentials("GRAFTKEY", "graft-lakestore-secret")
  private val pid = ProcessHandle.current().pid()

  private def freshDir(name: String): Path = {
    val p = Paths.get(scratchRoot("lakestore-spec", s"$name-$pid"))
    Files.createDirectories(p)
    p
  }

  /** Counts the placements it sees: `own` under its root, `foreign`
    * anywhere else (which the registry must never route here). */
  private final class Counting(root: Path, below: LakeStore) extends LakeStore.Layer(below) {
    val own = new AtomicInteger
    val foreign = new AtomicInteger
    override def place(src: Path, dst: Path): Unit = {
      if (dst.startsWith(root)) own.incrementAndGet() else foreign.incrementAndGet()
      below.place(src, dst)
    }
  }

  private def counting(root: Path): (Counting, AutoCloseable) = {
    var c: Counting = null
    val h = LakeStore.bind(root) { below => c = new Counting(root.toAbsolutePath.normalize, below); c }
    (c, h)
  }

  /** Stage one small file under `root` and place it through the store
    * its final path resolves to. */
  private def placeOne(root: Path, name: String): Path = {
    Files.createDirectories(root.resolve("data"))
    val src = root.resolve(s".stage-$name")
    Files.write(src, name.getBytes(UTF_8))
    val dst = root.resolve(s"data/$name")
    LakeStore.at(dst).place(src, dst)
    dst
  }

  test("a binding on /x/t1 does not capture /x/t10") {
    val x = freshDir("prefix")
    val (c, h) = counting(x.resolve("t1"))
    try {
      assert(Files.exists(placeOne(x.resolve("t10"), "a.parquet")))
      assert(c.own.get == 0 && c.foreign.get == 0, "/x/t10 is not under /x/t1")
      assert(Files.exists(placeOne(x.resolve("t1"), "b.parquet")))
      assert(c.own.get == 1)
    } finally h.close()
  }

  test("nested same-shape mounts act once, through the inner mount; different shapes compose") {
    val em = new GraftS3Server("graft-lakestore-nest", creds)
    try {
      val wh = freshDir("nest")
      val t = wh.resolve("t")
      // bound first, so it sits below both mirrors: they pass placements down
      val (c, h) = counting(wh)
      // two mirrors, distinct key prefixes: each upload names its mount
      val outer = GraftS3.mountArtifactMirror(wh, em.client, prefix = "outer")
      val inner = GraftS3.mountArtifactMirror(t, em.client, prefix = "inner")
      try {
        assert(Files.exists(placeOne(t, "a.parquet")), "the placement lands locally")
        assert(em.objects.containsKey("inner/data/a.parquet"), "the inner mirror uploads")
        assert(!em.objects.containsKey("outer/t/data/a.parquet"),
          "the outer mirror does not upload what the inner one owns")
        placeOne(wh.resolve("u"), "b.parquet")
        assert(em.objects.containsKey("outer/u/data/b.parquet"),
          "outside the inner root the outer mirror acts")
        assert(c.own.get == 2, "a layer below the mirrors still sees every placement")
      } finally { inner.close(); outer.close(); h.close() }

      // a table-level hydration mount under a warehouse arbiter: the
      // table's commits arbitrate through the warehouse mount
      val arb = GraftS3.mountCommitArbiter(wh, em.client)
      val hyd = GraftS3.mountOnDemandHydration(t, em.client)
      try {
        val df = Seq((1L, "a")).toDF("id", "v")
        GraftTable.create(spark, t.toString, df.schema)
        GraftTable.append(spark, t.toString, df)
        assert(em.objects.containsKey("t/_graft_log/0000000000.json") &&
          em.objects.containsKey("t/_graft_log/0000000001.json"),
          "the deeper hydration store passes arbitration down to the warehouse arbiter")
        assert(GraftTable.read(spark, t.toString).count() == 1L)
      } finally { hyd.close(); arb.close() }
      assert(em.rejected.get == 0)
    } finally em.close()
  }

  test("a close out of LIFO order leaves the later binding working") {
    val x = freshDir("lifo")
    // equal roots: the newer binding serves, the older one sits below it
    val (older, ho) = counting(x)
    val (newer, hn) = counting(x)
    ho.close()
    try {
      assert(Files.exists(placeOne(x, "a.parquet")))
      assert(newer.own.get == 1 && older.own.get == 0)
    } finally hn.close()
    // nested roots: closing the outer one first
    val t = x.resolve("t")
    val (outer, hOuter) = counting(x)
    val (inner, hInner) = counting(t)
    placeOne(t, "b.parquet")
    assert(inner.own.get == 1 && outer.own.get == 1, "the inner layer passes down to the outer")
    hOuter.close()
    try {
      assert(Files.exists(placeOne(t, "c.parquet")))
      assert(inner.own.get == 2 && outer.own.get == 1, "a closed binding is no longer below")
    } finally hInner.close()
    placeOne(t, "d.parquet")
    assert(inner.own.get == 2, "a closed binding serves nothing")
  }

  test("isLazyRoot holds for a root that contains a hydration mount") {
    val em = new GraftS3Server("graft-lakestore-lazy", creds)
    val wh = freshDir("lazy")
    val t = wh.resolve("ns").resolve("t")
    Files.createDirectories(t)
    val hyd = GraftS3.mountOnDemandHydration(t, em.client)
    try {
      // readStreamAppendOnly refuses lazy roots before touching the log
      Seq(t, wh).foreach { r =>
        val e = intercept[IllegalArgumentException](
          GraftTable.readStreamAppendOnly(spark, r.toString))
        assert(e.getMessage.contains("lazy follower"), s"$r: ${e.getMessage}")
      }
    } finally { hyd.close(); em.close() }
  }

  test("under concurrency each layer counts exactly its own root's placements") {
    val x = freshDir("conc")
    val w = x.resolve("writer")
    val (writerLayer, hw) = counting(w)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appends = 6
    try {
      val df = Seq((1L, "a")).toDF("id", "v")
      GraftTable.create(spark, w.toString, df.schema)
      val writer = new Thread(() =>
        (0 until appends).foreach(i =>
          GraftTable.append(spark, w.toString, Seq((i.toLong, s"w$i")).toDF("id", "v").coalesce(1))))
      val siblings = (0 until 4).map { k =>
        new Thread(() => {
          val s = x.resolve(s"s$k")
          (0 until 20).foreach { round =>
            val (c, h) = counting(s)
            try (0 until 3).foreach(i => placeOne(s, s"r$round-$i.parquet"))
            finally h.close()
            placeOne(s, s"r$round-after.parquet")   // after close: not counted
            if (c.own.get != 3 || c.foreign.get != 0)
              failures.add(s"s$k round $round: own ${c.own.get} foreign ${c.foreign.get}")
          }
        })
      }
      (writer +: siblings).foreach(_.start())
      (writer +: siblings).foreach(_.join(120000))
      assert(failures.isEmpty, failures.toString)
      val written = GraftTable.state(w.toString).files.size
      assert(written == appends)
      assert(writerLayer.own.get == written && writerLayer.foreign.get == 0,
        s"the writer's layer saw ${writerLayer.own.get} own, ${writerLayer.foreign.get} foreign")
      assert(GraftTable.read(spark, w.toString).count() == appends.toLong)
    } finally hw.close()
  }
}
