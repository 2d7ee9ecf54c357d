package graftbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.lake.GraftTable
import graft.operators.{Dedup, TextOps}

/** dedup_corpus: the training-data pipeline over a generated corpus
  * with exact copies and near-duplicate variants injected at known
  * rates. One operation is one pass: quality scoring (TextOps.q38),
  * exact dedup (TextOps.q30), MinHash-LSH pairs (Dedup.q31x), connected
  * components over the pairs, then a GraftTable append of the kept
  * documents. Every stage's output is collected to the client, the same
  * way in every pass. The operators and their hash functions do the
  * CPU work; the lake layer does one append.
  *
  * Checks: the exact-duplicate groups must be the injected copies; the
  * near-duplicate clusters must hold at least [[DedupCorpus.minRecall]]
  * of the injected pairs; the appended table must hold the kept set. */
final class DedupCorpus(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import DedupCorpus._

  private var dir = ""
  private var corpus: Corpus = _
  private var passes = 0

  override def describe: Seq[String] = Seq(
    s"dedup_corpus: ${corpus.docs.size} documents ($baseDocs base, " +
      s"${corpus.copyGroups.toSeq.map(_.size - 1).sum} exact copies in " +
      s"${corpus.copyGroups.size} groups, ${corpus.nearPairs.size} near-duplicate variants); " +
      s"${spark.sparkContext.master}, one client, closed loop")

  def setup(rep: Int): Unit = {
    corpus = Gen.corpus(seed, baseDocs, copyRate, nearRate)
    dir = write(s"corpus$rep")
    // warm-up: checked passes
    (0 until warmupPasses).foreach { _ =>
      val failures = check(pass(new Tracer(false)))
      require(failures.isEmpty, s"warm-up pass failed: ${failures.mkString("; ")}")
    }
  }

  /** Write the corpus as `documents.parquet` under a fresh directory. */
  private def write(name: String): String = {
    val d = work.resolve(name).toString
    corpus.toDf(spark).coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  private def pass(t: Tracer): Out = {
    // every pass starts cold: the operators cache intermediate results,
    // and a pass over a new batch would not find them
    spark.catalog.clearCache()
    passes += 1
    val root = work.resolve(s"kept/p$passes").toString
    GraftTable.create(spark, root, Doc.schema)
    val t0 = System.nanoTime()
    val quality = t.span("TextOps.q38")(TextOps.q38(spark, dir)
      .select("doc_id", "bucket").collect())
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val groups = t.span("TextOps.q30")(TextOps.q30(spark, dir)
      .select("keep_id", "n_copies").collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val pairs = t.span("Dedup.q31x")(Dedup.q31x(spark, dir).select("da", "db").collect())
    val comp = t.span("Dedup.connectedComponents") {
      val edges = spark.createDataFrame(java.util.Arrays.asList(pairs: _*), edgeSchema)
      Dedup.connectedComponents(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // keep: not low quality, the first of its exact-copy group, and the
    // representative (smallest id) of its near-duplicate cluster
    val keepIds = groups.map(_._1).toSet
    val kept = quality.collect { case (id, q) if q != "low" && keepIds.contains(id) &&
      comp.get(id).forall(_ == id) => id }.toSet
    t.span("GraftTable.append") {
      val ids = spark.createDataFrame(java.util.Arrays.asList(
        kept.toSeq.sorted.map(Row(_)): _*), StructType(Seq(StructField("doc_id", LongType))))
      GraftTable.append(spark, root,
        spark.read.parquet(s"$dir/documents.parquet").join(ids, Seq("doc_id")))
    }
    Out((System.nanoTime() - t0) / 1e6, root, groups, pairs.length, comp, kept)
  }

  private def check(o: Out): Seq[String] = {
    val appended = GraftTable.read(spark, o.root).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    Lake.deleteTree(java.nio.file.Paths.get(o.root))
    DedupOracle.checkExactGroups(corpus.copyGroups, o.groups).toSeq ++
      DedupOracle.checkRecall(DedupOracle.recall(corpus.nearPairs, o.comp), minRecall) ++
      (if (appended == o.kept) None
       else Some(s"appended ${appended.size} documents, kept ${o.kept.size}"))
  }

  def measure(seconds: Double, t: Tracer): Phase = {
    val outs = ArrayBuffer.empty[Out]
    val failures = ArrayBuffer.empty[String]
    var busyMs = 0.0
    var broken = false
    while (!broken && (busyMs < seconds * 1000 || outs.size < minPasses)) {
      t.nextOp()
      try {
        val o = t.span("op.pass")(pass(t))
        busyMs += o.ms
        outs += o
        failures ++= check(o)
      } catch { case e: Exception =>
        failures += s"pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
        broken = true
      }
    }
    val docs = corpus.docs.size.toLong
    val recall = if (outs.isEmpty) 0.0
      else outs.map(o => DedupOracle.recall(corpus.nearPairs, o.comp)).min
    val recallM = Metric("dedup_recall", recall, "ratio",
      s"lowest over ${outs.size} passes of ${corpus.nearPairs.size} injected pairs")
    val n = math.max(1, outs.size)
    def perPass(name: String) = Metric(s"$name.ms", t.durationsMs(name).sum / n, "ms",
      s"per pass, ${outs.size} passes")
    val layers = if (!t.enabled) Nil else Seq(
      perPass("TextOps.q38"), perPass("TextOps.q30"), perPass("Dedup.q31x"),
      perPass("Dedup.connectedComponents"), perPass("GraftTable.append"),
      Layers.p50("GraftTable.append.ms_p50", t.durationsMs("GraftTable.append")),
      Metric("Dedup.pairs_found", outs.map(_.pairs).sum.toDouble / n, "count", "per pass"),
      recallM.copy(name = "Dedup.recall"))
    Phase(outs.map(_.ms).toSeq, (docs * outs.size).toDouble, busyMs / 1000, outs.size,
      failures.toSeq, Seq(recallM), layers)
  }
}

object DedupCorpus {
  private val edgeSchema = StructType(Seq(
    StructField("da", LongType, nullable = false), StructField("db", LongType, nullable = false)))

  /** What one pass produced, for checking outside the timed interval. */
  private final case class Out(ms: Double, root: String, groups: Seq[(Long, Long)],
      pairs: Int, comp: Map[Long, Long], kept: Set[Long])

  val baseDocs = 1000
  /** Passes each set-up runs before the measured ones. With one, the
    * first measured pass was the slowest of its run in four runs of five. */
  val warmupPasses = 2
  /** A run measures at least this many passes, so op_ms_p50 is the
    * middle one of five even when the machine is slow; stopping at
    * `seconds` alone made runs hold two passes or three, and the median
    * jumped between the two kinds of run. */
  val minPasses = 5
  val copyRate = 0.05
  val nearRate = 0.05
  /** MinHash-LSH with 8 bands of 2 rows finds a pair of Jaccard ~0.8
    * with probability > 0.99; missing more than 5% is a defect. */
  val minRecall = 0.95
}
