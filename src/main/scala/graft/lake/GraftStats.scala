package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-level column NDV statistics from per-FILE HLL sketches — the
  * Iceberg/Puffin `compute_table_stats` shape (reference:
  * SPARK_ICEBERG_GUIDE.md loads the Iceberg runtime whose ANALYZE
  * writes Puffin theta sketches), rebuilt Spark-first on the
  * DataSketches HLL functions Spark 4 ships (`hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate`).
  *
  * Design for 100 TB:
  *  - sketches are PER FILE, keyed by the file's unique basename, so a
  *    refresh sketches ONLY files not yet covered — O(new bytes), not
  *    O(table); survivors are carried over as bytes, never recomputed.
  *  - the sketch pass is ONE distributed job over the target files
  *    (groupBy file → one HLL per requested column), and the artifact
  *    is parquet — no driver materialization of sketch rows.
  *  - estimates are a distributed union: live-file list (checkpoint-
  *    parquet-served above the planning threshold, via filesTable)
  *    joined to the sketch artifact by basename, `hll_union_agg` per
  *    column. Files dropped by deletes/compaction fall out of the join
  *    automatically — stale coverage is visible, never silently wrong.
  *  - sketches cover the RAW file contents: MoR deletes that haven't
  *    been compacted yet are still counted, so an estimate over a
  *    delete-carrying table is an upper bound until rewrite — the
  *    standard stats trade (Iceberg's Puffin sketches age the same
  *    way). Coverage columns make the freshness auditable.
  */
object GraftStats {

  val statsFileProp = "graft.stats.file"
  val statsSnapshotProp = "graft.stats.snapshot-id"
  val statsColumnsProp = "graft.stats.columns"

  /** Types Spark's HLL sketch aggregate accepts. */
  def eligibleColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == StringType || f.dataType == BinaryType => f.name
    }

  private def baseName(c: Column): Column = substring_index(c, "/", -1)

  /** One distributed pass over `paths` (relative to root): per
    * (file, column) HLL sketch + the file's record count, long-form
    * (file_name, column, records, sketch). */
  private def sketchFiles(spark: SparkSession, root: String, schema: StructType,
      paths: Seq[String], cols: Seq[String]): DataFrame = {
    val raw = spark.read.schema(GraftTable.physReadSchema(schema))
      .parquet(paths.map(p => s"$root/$p"): _*)
      .withColumn("_gf_name", baseName(col("_metadata.file_path")))
    val df =
      if (GraftTable.hasRenames(schema))
        GraftTable.logicalProject(raw, schema, keep = Seq("_gf_name"))
      else raw
    val aggs = count(lit(1)).as("_gf_records") +:
      cols.map(c => hll_sketch_agg(col(c)).as(s"_sk_$c"))
    val perFile = df.groupBy(col("_gf_name")).agg(aggs.head, aggs.tail: _*)
    // long-form via ONE explode, not one select-union branch per
    // column: each union branch re-evaluated perFile — i.e. the whole
    // file scan + every column's HLL sketch — only to keep one column
    // of it (ncols× the sketch pass; the refresh's cost is exactly
    // this pass at 100 TB)
    perFile.select(col("_gf_name").as("file_name"),
        col("_gf_records").as("records"),
        explode(array(cols.map(c =>
          struct(lit(c).as("column"), col(s"_sk_$c").as("sketch"))): _*)).as("e"))
      .select(col("file_name"), col("e.column").as("column"),
        col("records"), col("e.sketch").as("sketch"))
  }

  private def currentArtifact(root: String): Option[String] =
    GraftTable.state(root).properties.get(statsFileProp).filter(_.nonEmpty)
      .filter(n => Files.exists(GraftTable.logDir(root).resolve(n)))

  /** Compute or refresh the table's column sketches. Incremental by
    * default: only live data files missing a sketch for every
    * requested column are read; prior sketches for still-live files
    * carry over byte-for-byte. Returns (files sketched this call,
    * snapshot id the new artifact is registered at). */
  def refreshTableStats(spark: SparkSession, root: String,
      columns: Option[Seq[String]] = None,
      incremental: Boolean = true): (Long, Long) = {
    val schema = GraftTable.tableSchema(root)
    val eligible = eligibleColumns(schema)
    val cols = columns.map(_.map(_.trim).filter(_.nonEmpty)).getOrElse(eligible)
    require(cols.nonEmpty, "no sketchable columns (int/long/string/binary)")
    val bad = cols.filterNot(eligible.contains)
    require(bad.isEmpty, s"not sketchable (int/long/string/binary only): ${bad.mkString(", ")}")

    // live data files, served from the checkpoint parquet above the
    // planning threshold (filesTable picks the branch)
    val live = GraftTable.filesTable(spark, root).filter(col("content") === 0)
      .select(col("file_path"), baseName(col("file_path")).as("file_name"))
    val prior: Option[DataFrame] = if (incremental) currentArtifact(root).map { n =>
      spark.read.parquet(GraftTable.logDir(root).resolve(n).toString)
    } else None

    // a file is covered iff the prior artifact holds ALL requested
    // columns for it (a partial row set would silently under-count)
    val coveredNames = prior.map(
      _.filter(col("column").isin(cols: _*))
        .groupBy(col("file_name")).agg(countDistinct(col("column")).as("n"))
        .filter(col("n") === cols.size).select(col("file_name")))
    // only the MISSING path list transits the driver — O(new files)
    val missingPaths = coveredNames match {
      case Some(cn) => live.join(cn, Seq("file_name"), "left_anti")
        .select("file_path").collect().map(_.getString(0)).toSeq
      case None => live.select("file_path").collect().map(_.getString(0)).toSeq
    }

    val fresh =
      if (missingPaths.isEmpty) None
      else Some(sketchFiles(spark, root, schema, missingPaths, cols))
    val survivors = (prior, coveredNames) match {
      case (Some(p), Some(cn)) =>
        Some(p.filter(col("column").isin(cols: _*))
          .join(cn, Seq("file_name"), "left_semi")
          .join(live.select("file_name"), Seq("file_name"), "left_semi"))
      case _ => None
    }
    val out = (survivors.toSeq ++ fresh.toSeq) match {
      case Seq() =>  // empty table: an empty artifact keeps the contract uniform
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("file_name", StringType), StructField("column", StringType),
            StructField("records", LongType), StructField("sketch", BinaryType))))
      case dfs => dfs.reduce(_ unionAll _)
    }

    val sid = GraftTable.state(root).snapshotId
    val idx = GraftTable.listDir(GraftTable.logDir(root))
      .count(_.getFileName.toString.startsWith("colstats-"))
    val name = s"colstats-$sid-$idx.parquet"
    out.write.mode("overwrite").options(GraftLocalFs.writerOptions)
      .parquet(GraftTable.logDir(root).resolve(name).toString)
    val newId = GraftTable.setProperties(root, Map(
      statsFileProp -> name,
      statsSnapshotProp -> sid.toString,
      statsColumnsProp -> cols.sorted.mkString(",")))
    (missingPaths.size.toLong, newId)
  }

  /** Per-column NDV estimates from the registered sketch artifact,
    * restricted to LIVE data files (deleted/compacted files fall out
    * of the basename join). Coverage columns expose staleness: a
    * consumer that needs fresh estimates checks covered == total. */
  def ndvEstimates(spark: SparkSession, root: String): DataFrame = {
    val artifact = currentArtifact(root).getOrElse(throw new IllegalStateException(
      s"no column statistics registered for $root: CALL compute_table_stats first"))
    val stats = spark.read.parquet(GraftTable.logDir(root).resolve(artifact).toString)
    val live = GraftTable.filesTable(spark, root).filter(col("content") === 0)
      .select(baseName(col("file_path")).as("file_name"), col("record_count"))
    val totals = live.agg(count(lit(1)).as("total_files"),
      coalesce(sum(col("record_count")), lit(0L)).as("total_records"))
    stats.join(live.select("file_name"), Seq("file_name"), "left_semi")
      .groupBy(col("column"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("ndv"),
        count(lit(1)).as("covered_files"),
        sum(col("records")).as("covered_records"))
      .crossJoin(broadcast(totals))
      .orderBy(col("column"))
  }

  /** `.statistics` metadata view (the Iceberg sibling): every sketch
    * artifact on disk, flagged with whether it is the registered one. */
  def statisticsTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val current = GraftTable.state(root).properties.getOrElse(statsFileProp, "")
    GraftTable.listDir(GraftTable.logDir(root))
      .filter(_.getFileName.toString.startsWith("colstats-"))
      .map { p =>
        val n = p.getFileName.toString
        val size =
          if (Files.isDirectory(p)) GraftTable.listDir(p).map(Files.size(_)).sum
          else Files.size(p)
        (s"_graft_log/$n", size, n == current)
      }.sortBy(_._1)
      .toDF("path", "size_in_bytes", "registered")
  }
}
