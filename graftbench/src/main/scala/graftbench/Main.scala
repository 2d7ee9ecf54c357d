package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One reported number. `base` says what a ratio or mean is taken over. */
final case class Metric(name: String, value: Double, unit: String, base: String = "")

/** What one measured phase of a workload produced. `opMs` are the
  * closed-loop operation latencies, `items` the workload's unit of
  * work completed in `busyS` seconds of operations, `failures` every
  * failed operation or check. `extra` holds end-to-end figures only
  * this workload has; `layers` the per-layer figures a traced phase
  * fills in. `checks` counts output checks. */
final case class Phase(opMs: Seq[Double], items: Double, busyS: Double,
    checks: Int, failures: Seq[String], extra: Seq[Metric], layers: Seq[Metric]) {
  /** Operations run plus output checks made; `failures` counts both. */
  def attempted: Long = opMs.size.toLong + checks
}

/** A workload: set-up builds its inputs and state from the seed (run
  * several times, the last one is measured), `measure` runs the closed
  * loop — one client, the next operation starts when the previous one
  * ends — for `seconds` of operation time, then checks every output. */
trait Workload {
  def setup(rep: Int): Unit
  def measure(seconds: Double, tracer: Tracer): Phase
  /** Make the next `measure` start from freshly set-up state when
    * measuring changed it (default: measuring is read-only). */
  def reset(): Unit = ()
  /** Sizes and settings worth stating next to the numbers. */
  def describe: Seq[String] = Nil
  def close(): Unit = ()
}

object Main {
  /** Spark's executor threads: half the cores, at most 4 — the rest is
    * headroom for the client thread, the JIT and the collector. */
  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() / 2))

  /** dedup_corpus runs on one executor thread: its ~1 MB corpus makes
    * every task tiny, so a second thread only doubles the tasks Spark
    * schedules per stage (a pass took 2.3-2.7 s on local[2] and
    * 1.7-2.2 s on local[1]) and the threads that contend for the host. */
  def coresFor(workload: String): Int = if (workload == "dedup_corpus") 1 else cores
  /** Set-ups per run; setup_s is their median. Two fit the run-time budget. */
  val setupReps = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val required = Set("workload", "seed", "seconds", "work-dir", "spec")
    require(args.length % 2 == 0 && opts.keySet.subsetOf(required + "trace") &&
      required.subsetOf(opts.keySet),
      "usage: --workload <name> --seed <n> --seconds <s> [--trace 0|1] --work-dir <dir> " +
        "--spec <BENCHMARK.json>")
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work-dir")).toAbsolutePath
    val layers = Layers.listed(Paths.get(opts("spec")))
    Lake.deleteTree(work)
    Files.createDirectories(work)
    val code =
      try run(workloadName, seed, seconds, trace, work, layers)
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally Lake.deleteTree(work)
    sys.exit(code)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "lake_ingest" => new LakeIngest(spark, work, seed)
      case "lake_query" => new LakeQuery(spark, work, seed, viaS3 = false)
      case "s3_follower_query" => new LakeQuery(spark, work, seed, viaS3 = true)
      case "dedup_corpus" => new DedupCorpus(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, listedLayers: Seq[(String, String)]): Int = {
    val spark = session(work, coresFor(name))
    val w = workload(name, spark, work, seed)
    try {
      val setups = (0 until setupReps).map(i => Lake.timedMs(w.setup(i))._2 / 1000)
      w.describe.foreach(l => println(s"# $l"))
      println(f"# setup_s runs: ${setups.map(s => f"$s%.3f").mkString(", ")}")
      // a traced run splits its time: an untraced half for reference,
      // then the traced half the per-layer numbers come from
      val plain = w.measure(if (trace) seconds / 2 else seconds, new Tracer(false))
      val e2ePlain = endToEndOf(plain, setups)
      printEndToEnd(name, plain, e2ePlain)
      val (phase, metrics) =
        if (!trace) (plain, e2ePlain)
        else {
          w.reset()
          val tracer = new Tracer(true)
          val gc0 = gcMs()
          val traced = w.measure(seconds / 2, tracer)
          val gc = gcMs() - gc0
          tracer.write(work.getParent.resolve(s"trace-$name-$seed.jsonl"))
          val e2eTraced = endToEndOf(traced, setups)
          e2eTraced.zip(e2ePlain).foreach { case (t, p) =>
            println(f"overhead ${t.name} ${t.value - p.value}%.4f ${t.unit} " +
              f"(traced ${t.value}%.4f, untraced ${p.value}%.4f)")
          }
          Tracer.selfMsByName(tracer.recorded).toSeq.sortBy(-_._2).foreach { case (n, ms) =>
            println(f"self_ms $n $ms%.1f")
          }
          val layers = Layers.complete(listedLayers, traced.layers :+
            Metric("jvm.gc_ms", gc.toDouble, "ms", "collector time during the traced phase"))
          layers.foreach(m => println(s"layer ${m.name} ${fmt(m.value)} ${m.unit}" +
            (if (m.base.nonEmpty) s" (${m.base})" else "")))
          (Phase(plain.opMs ++ traced.opMs, 0, 0, plain.checks + traced.checks,
            plain.failures ++ traced.failures, Nil, Nil), layers)
        }
      val failed = phase.failures.size.toLong
      phase.failures.take(20).foreach(f => println(s"FAILED $f"))
      val attempted = math.max(1L, phase.attempted)
      println(f"metric failed_ratio ${failed.toDouble / attempted}%.4f failed/attempted " +
        s"($failed of $attempted)")
      val json = metrics.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${json.mkString(", ")}}}""")
      if (failed == 0) 0 else 1
    } finally {
      w.close()
      spark.stop()
    }
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def endToEndOf(p: Phase, setups: Seq[Double]): Seq[Metric] = {
    val ops = if (p.opMs.isEmpty) Seq(0.0) else p.opMs
    Seq(
      Metric("setup_s", Stats.median(setups), "s", s"median of ${setups.size} set-ups"),
      Metric("op_ms_p50", Stats.percentile(ops, 50), "ms", s"${p.opMs.size} ops"),
      Metric("items_per_s", if (p.busyS > 0) p.items / p.busyS else 0, "1/s",
        f"${p.items}%.0f items in ${p.busyS}%.3f s"),
      Metric("peak_rss_mb", Lake.peakRssMb, "MB", "VmHWM"))
  }

  private def printEndToEnd(name: String, p: Phase, e2e: Seq[Metric]): Unit = {
    val tail = Stats.tailPercentile(p.opMs.size)
    println(s"# ${p.opMs.size} ops; highest percentile with >= 10 samples beyond it: " +
      tail.fold("none")(t => s"p$t"))
    println(s"# op latencies in order (ms): " +
      p.opMs.take(200).map(ms => f"$ms%.0f").mkString(" ") + (if (p.opMs.size > 200) " ..." else ""))
    // reported, not bounded: a run holds far fewer than the 100
    // operations a p90 needs to have ten samples beyond it
    val p90 = Metric("op_ms_p90", if (p.opMs.isEmpty) 0 else Stats.percentile(p.opMs, 90), "ms",
      s"${p.opMs.size} ops; not in BENCHMARK.json")
    (e2e ++ (p90 +: p.extra)).foreach(m => println(s"metric ${m.name} ${fmt(m.value)} ${m.unit}" +
      (if (m.base.nonEmpty) s" (${m.base})" else "")))
    // the same figures under the names the workload's users know them by
    val alias = Map(
      "lake_ingest" -> Map("op_ms_p50" -> "commit_ms_p50", "op_ms_p90" -> "commit_ms_p90",
        "items_per_s" -> "ingest_rows_per_s"),
      "lake_query" -> Map("op_ms_p50" -> "query_ms_p50", "op_ms_p90" -> "query_ms_p90"),
      "s3_follower_query" -> Map("op_ms_p50" -> "query_ms_p50", "op_ms_p90" -> "query_ms_p90"),
      "dedup_corpus" -> Map("items_per_s" -> "docs_per_s"))
    (e2e :+ p90).foreach(m => alias(name).get(m.name).foreach(a =>
      println(s"metric $a ${fmt(m.value)} ${m.unit} (= ${m.name})")))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
