package graft

import org.apache.spark.sql.functions.col

import graft.lake.GraftTable

/** What planning costs on Spark. Below the planning threshold the
  * driver planner prunes the cached snapshot and runs no Spark work;
  * above it the checkpoint planner runs one checkpoint-list job per
  * plan, shared by every plane that asks it, never one per plane. */
class PlanningCostSpec extends SparkSpec {

  /** Six single-file appends, a live position-delete file, a parquet
    * checkpoint, then a one-commit tail; `threshold` is the table's
    * planning threshold (None: the default, far above this table). */
  private def build(name: String, threshold: Option[Int]): String = {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pcost")
    spark.sql(s"DROP TABLE IF EXISTS graft.pcost.$name")
    val props = threshold.map(t =>
      s" TBLPROPERTIES ('graft.planning.distributed-threshold' = '$t')").getOrElse("")
    spark.sql(s"CREATE TABLE graft.pcost.$name (k BIGINT, v STRING)$props")
    val root = s"${SparkSpec.sqlWarehouse}/pcost/$name"
    (0 until 6).foreach { i =>
      GraftTable.append(spark, root,
        (i * 10L until i * 10L + 10).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    }
    GraftTable.deleteWhereMoR(spark, root, col("k") === 3L)
    GraftTable.rewriteManifests(root)
    GraftTable.append(spark, root, Seq((100L, "tail")).toDF("k", "v"))
    root
  }

  test("above the planning threshold a native scan and a MoR delete each run one more SQL execution") {
    val below = build("below", None)
    val above = build("above", Some(2))
    assert(GraftTable.planNativeScan(spark, above, Nil, None).exists(_.distributedPlanned))
    assert(GraftTable.planNativeScan(spark, below, Nil, None).exists(!_.distributedPlanned))

    def scan(name: String): (Seq[Long], Int) = {
      val (rows, t) = traced(
        spark.sql(s"SELECT k FROM graft.pcost.$name WHERE k >= 20").collect())
      (rows.map(_.getLong(0)).toSeq.sorted, t.executions.size)
    }
    val (belowRows, belowScan) = scan("below")
    val (aboveRows, aboveScan) = scan("above")
    assert(aboveRows == belowRows && aboveRows == ((20L until 60L) :+ 100L))
    assert(aboveScan == belowScan + 1,
      s"native SQL scan: $belowScan SQL executions below the threshold, $aboveScan above")

    def delete(root: String): Int =
      traced(GraftTable.deleteWhereMoR(spark, root, col("k") === 25L))._2.executions.size
    val belowDelete = delete(below)
    val aboveDelete = delete(above)
    assert(aboveDelete == belowDelete + 1,
      s"deleteWhereMoR: $belowDelete SQL executions below the threshold, $aboveDelete above")
    assert(GraftTable.read(spark, above).count() == GraftTable.read(spark, below).count())
  }
}
