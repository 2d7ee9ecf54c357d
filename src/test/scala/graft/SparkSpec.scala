package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session;
  * ScalaTest runs suites sequentially in the forked JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/root/repo/target/graft-warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // ONE graft catalog for every suite: Spark caches the catalog
      // instance per name on first use, so per-suite warehouse
      // overrides would silently keep the first suite's path
      .config("spark.sql.catalog.graft", "graft.lake.GraftSparkCatalog")
      .config("spark.sql.catalog.graft.warehouse", SparkSpec.sqlWarehouse)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  val sqlWarehouse: String = "/root/repo/target/graft-sql-warehouse"

  /** One SQL execution a traced block ran, with its final executed
    * plan (after AQE re-planning). */
  final case class SqlExec(id: Long, description: String,
      plan: org.apache.spark.sql.execution.SparkPlanInfo) {
    /** Every node of the plan, depth first. */
    def nodes: Seq[org.apache.spark.sql.execution.SparkPlanInfo] = {
      def walk(n: org.apache.spark.sql.execution.SparkPlanInfo)
          : Seq[org.apache.spark.sql.execution.SparkPlanInfo] = n +: n.children.flatMap(walk)
      walk(plan)
    }
    /** Shuffle exchanges (ShuffleExchangeExec, or its AQE query stage). */
    def shuffles: Seq[String] = nodes.map(_.nodeName)
      .filter(n => n == "Exchange" || n == "ShuffleQueryStage")
    /** Whether the execution wrote files under directory `dir`. */
    def writesUnder(dir: String): Boolean = nodes.exists(n =>
      n.nodeName.startsWith("Execute InsertIntoHadoopFsRelationCommand") &&
        n.simpleString.contains(dir + "/"))
  }

  /** What a traced block ran on Spark: its SQL executions in start
    * order, and the ids of its jobs that ran outside any execution
    * (schema inference, file listing, bare RDD actions). */
  final case class SparkTrace(executions: Seq[SqlExec], bareJobs: Seq[Int], jobs: Int)
}

/** Shared independent reconstructions of the md5-derived hash
  * definitions (one copy, so the definition can't drift between
  * specs). */
object TestHashes {
  def md5Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  def simhashReconstruct(toks: Seq[String]): Long = {
    val counts = new Array[Int](64)
    toks.foreach { t =>
      val hex = md5Hex(t)
      (0 until 64).foreach { b =>
        val nibble = Integer.parseInt(hex(b / 4).toString, 16)
        counts(b) += (if (((nibble >> (3 - b % 4)) & 1) == 1) 1 else -1)
      }
    }
    (0 until 64).foldLeft(0L)((acc, b) => if (counts(b) > 0) acc | (1L << (63 - b)) else acc)
  }

  def minhashReconstruct(shingles: Seq[String], perms: Int = 16): Seq[String] =
    (0 until perms).map(i => shingles.map(s => md5Hex(s"$i:$s")).min)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf

  /** Wipe-and-recreate a scratch table root at target/<dir>/<name> —
    * the one shared copy of the per-suite freshRoot helpers. */
  protected def scratchRoot(dir: String, name: String): String = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get("/root/repo/target", dir, name)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Local bytes under every data/ and deletes/ dir below `root` — the
    * disk the bounded/direct-writer specs assert on. Delegates to the
    * gates' own definition (LakeOps.localLakeDataBytes) so the suite
    * and q113/q114 can never silently diverge in what they count. */
  protected def localDataBytes(root: java.nio.file.Path): Long =
    graft.operators.LakeOps.localLakeDataBytes(root)

  /** Incompressible payload rows (id, bucket, 200-char base64 pad):
    * parquet can't deflate them, so byte-budget asserts measure real
    * transfer/disk, not encoder luck. */
  protected def padRows(n: Int, seed: Long): Seq[(Long, Int, String)] = {
    val rnd = new java.util.Random(seed)
    (0 until n).map { i =>
      val pad = new Array[Byte](150); rnd.nextBytes(pad)
      (i.toLong, i % 3, java.util.Base64.getEncoder.encodeToString(pad))
    }
  }

  /** Runs `body` under a unique job group and returns what it ran on
    * Spark. Suites share one JVM and one SparkContext, so everything is
    * scoped by the job group, never by global counts. Listener delivery
    * is asynchronous but ordered: a marker job run afterwards flushes
    * every earlier event. */
  protected def traced[T](body: => T): (T, SparkSpec.SparkTrace) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val sc = spark.sparkContext
    val group = s"traced-${java.util.UUID.randomUUID()}"
    val marker = s"$group-flush"
    val execs = scala.collection.mutable.LinkedHashMap.empty[Long, SparkSpec.SqlExec]
    val bare = scala.collection.mutable.ArrayBuffer.empty[Int]
    var jobs = 0
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        js.properties.getProperty("spark.jobGroup.id") match {
          case `group` =>
            jobs += 1
            if (js.properties.getProperty("spark.sql.execution.id") == null) bare += js.jobId
          case `marker` => flushed.countDown()
          case _ => ()
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
        e match {
          case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
            execs(s.executionId) = SparkSpec.SqlExec(s.executionId, s.description, s.sparkPlanInfo)
          case u: SparkListenerSQLAdaptiveExecutionUpdate if execs.contains(u.executionId) =>
            execs(u.executionId) = execs(u.executionId).copy(plan = u.sparkPlanInfo)
          case _ => ()
        }
      }
    }
    sc.addSparkListener(listener)
    // the caller's own job group, if any, comes back afterwards
    val prior = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
    def restore(): Unit = prior.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try {
      sc.setJobGroup(group, "traced block")
      val out = try body finally restore()
      sc.setJobGroup(marker, "traced block flush")
      try sc.parallelize(Seq(1), 1).count() finally restore()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never flushed")
      listener.synchronized {
        (out, SparkSpec.SparkTrace(execs.values.toList, bare.toList, jobs))
      }
    } finally sc.removeSparkListener(listener)
  }

  /** The formatted physical plan, for scan/pushdown/broadcast asserts. */
  def plan(df: org.apache.spark.sql.DataFrame): String = {
    val e = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode) + e
  }
}
