package graftbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The per-layer metrics a traced run prints, with their units. A
  * workload that does not exercise a layer reports it as 0. Names
  * ending `.ms_p50` are the median of every call; plain `.ms` is the
  * time spent in that call per maintenance cycle (lake_ingest) or per
  * pipeline pass (dedup_corpus). */
object Layers {
  /** Every per-layer metric `BENCHMARK.json` lists, as (name, unit). */
  def listed(spec: Path): Seq[(String, String)] =
    new ObjectMapper().readTree(spec.toFile).get("per_layer").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  /** `got` in `all`'s order, zero-filled; refuses names not listed. */
  def complete(all: Seq[(String, String)], got: Seq[Metric]): Seq[Metric] = {
    val byName = got.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics not in the list: $unknown")
    all.map { case (n, u) =>
      byName.get(n).map(m => m.copy(unit = u)).getOrElse(Metric(n, 0.0, u, "not exercised"))
    }
  }

  /** Median of `xs` as a metric, 0 when the call never ran. */
  def p50(name: String, xs: Seq[Double]): Metric =
    Metric(name, if (xs.isEmpty) 0.0 else Stats.median(xs), "ms", s"${xs.size} calls")
}
