package graft

import java.{sql => jsql}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

import graft.lake.{GraftRelation, GraftTable}

/** Property-based pruning cross-check (round-7 verdict #2): both
  * round-7 wrong-results bugs were type-dispatch holes over stats text
  * (SMALLINT IN-lists compared as UTF-8; the −1 null-count sentinel
  * clamped to 0). This spec kills the whole class mechanically: random
  * schemas across every integral width + float/double/decimal/string/
  * date/timestamp, random rows with nulls, random partition specs, and
  * random predicates through BOTH predicate front doors (Column →
  * extractPreds and DSv2 Filter → toPred). The oracle is a full
  * driver-side re-evaluation: the pruned file set must keep every file
  * containing a matching row. Under-pruning is fine (residual filters
  * re-apply); a single over-prune is a silent wrong result. */
class PruningPropertySpec extends SparkSpec {

  private val seed = 20260813L
  private val rnd = new Random(seed)

  private def freshRoot(name: String): String =
    scratchRoot("graft-pruneprop-test", name)

  private val typePool: Seq[DataType] = Seq(ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DecimalType(9, 2), StringType, DateType,
    TimestampType)

  private val stringPool =
    Seq("", "a", "zz", "Zebra", "naïve", "日本語", "0", "-5", "~tail", " lead")

  /** Finite, exactly-representable values; negatives throughout (text
    * order inverts on the sign bit — the bug class under test). */
  private def randValue(dt: DataType): Any = dt match {
    case ByteType => (rnd.nextInt(41) - 20).toByte
    case ShortType => (rnd.nextInt(2001) - 1000).toShort
    case IntegerType => rnd.nextInt(20001) - 10000
    case LongType => (rnd.nextInt(200001) - 100000).toLong
    case FloatType => (rnd.nextInt(4001) - 2000).toFloat / 4   // quarter steps: exact
    case DoubleType => (rnd.nextInt(40001) - 20000).toDouble / 4
    case _: DecimalType =>
      new java.math.BigDecimal(rnd.nextInt(200001) - 100000).movePointLeft(2)
    case StringType =>
      if (rnd.nextBoolean()) stringPool(rnd.nextInt(stringPool.length))
      else rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString
    case DateType =>
      jsql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(rnd.nextInt(8000)))
    case TimestampType => jsql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z")
        .plusSeconds(rnd.nextInt(150000000))
        .plusNanos(rnd.nextInt(1000000) * 1000L))   // micro precision
    case other => throw new IllegalArgumentException(other.toString)
  }

  // ── driver-side oracle: Spark's comparison semantics per type ───────

  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }

  private def epochDay(x: Any): Long = x match {
    case d: jsql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
  }

  private def micros(x: Any): Long = x match {
    case t: jsql.Timestamp => t.getTime * 1000L + t.getNanos / 1000 % 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  private def cmpVal(dt: DataType, x: Any, v: Any): Int = dt match {
    case ByteType => java.lang.Byte.compare(x.asInstanceOf[Byte], v.asInstanceOf[Byte])
    case ShortType => java.lang.Short.compare(x.asInstanceOf[Short], v.asInstanceOf[Short])
    case IntegerType => java.lang.Integer.compare(x.asInstanceOf[Int], v.asInstanceOf[Int])
    case LongType => java.lang.Long.compare(x.asInstanceOf[Long], v.asInstanceOf[Long])
    case FloatType => java.lang.Float.compare(x.asInstanceOf[Float], v.asInstanceOf[Float])
    case DoubleType => java.lang.Double.compare(x.asInstanceOf[Double], v.asInstanceOf[Double])
    case _: DecimalType =>
      x.asInstanceOf[java.math.BigDecimal].compareTo(v.asInstanceOf[java.math.BigDecimal])
    case StringType => utf8Cmp(x.asInstanceOf[String], v.asInstanceOf[String])
    case DateType => java.lang.Long.compare(epochDay(x), epochDay(v))
    case TimestampType => java.lang.Long.compare(micros(x), micros(v))
    case other => throw new IllegalArgumentException(other.toString)
  }

  // ── random conjuncts over a schema ──────────────────────────────────

  /** op ∈ gt lt ge le eq in isnull notnull; `vs` only for in. */
  private case class Conj(ci: Int, op: String, v: Any, vs: Seq[Any]) {
    override def toString: String =
      if (op == "in") s"c$ci in (${vs.mkString(", ")})" else s"c$ci $op $v"
  }

  private def randConj(dts: Seq[DataType], pools: Seq[IndexedSeq[Any]]): Conj = {
    // bias toward c0 — the directed sweep partitions on it, and the
    // bug class under test lives in partition-tuple comparison
    val ci = if (rnd.nextDouble() < 0.4) 0 else rnd.nextInt(dts.length)
    def one(): Any =
      if (pools(ci).nonEmpty && rnd.nextDouble() < 0.7) pools(ci)(rnd.nextInt(pools(ci).length))
      else randValue(dts(ci))
    rnd.nextInt(8) match {
      case 0 => Conj(ci, "gt", one(), Nil)
      case 1 => Conj(ci, "lt", one(), Nil)
      case 2 => Conj(ci, "ge", one(), Nil)
      case 3 => Conj(ci, "le", one(), Nil)
      case 4 => Conj(ci, "eq", one(), Nil)
      case 5 => Conj(ci, "in", null, Seq.fill(1 + rnd.nextInt(4))(one()))
      case 6 => Conj(ci, "isnull", null, Nil)
      case _ => Conj(ci, "notnull", null, Nil)
    }
  }

  private def toColumn(c: Conj): Column = {
    val n = col(s"c${c.ci}")
    c.op match {
      case "gt" => n > lit(c.v)
      case "lt" => n < lit(c.v)
      case "ge" => n >= lit(c.v)
      case "le" => n <= lit(c.v)
      case "eq" => n === lit(c.v)
      case "in" => n.isin(c.vs: _*)
      case "isnull" => n.isNull
      case "notnull" => n.isNotNull
    }
  }

  private def toFilter(c: Conj): sources.Filter = {
    val n = s"c${c.ci}"
    c.op match {
      case "gt" => sources.GreaterThan(n, c.v)
      case "lt" => sources.LessThan(n, c.v)
      case "ge" => sources.GreaterThanOrEqual(n, c.v)
      case "le" => sources.LessThanOrEqual(n, c.v)
      case "eq" => sources.EqualTo(n, c.v)
      case "in" => sources.In(n, c.vs.toArray)
      case "isnull" => sources.IsNull(n)
      case "notnull" => sources.IsNotNull(n)
    }
  }

  private def rowMatches(dts: Seq[DataType], row: Row, conjs: Seq[Conj]): Boolean =
    conjs.forall { c =>
      val x = row.get(c.ci + 1)   // +1: id leads the schema
      c.op match {
        case "isnull" => x == null
        case "notnull" => x != null
        case _ if x == null => false
        case "gt" => cmpVal(dts(c.ci), x, c.v) > 0
        case "lt" => cmpVal(dts(c.ci), x, c.v) < 0
        case "ge" => cmpVal(dts(c.ci), x, c.v) >= 0
        case "le" => cmpVal(dts(c.ci), x, c.v) <= 0
        case "eq" => cmpVal(dts(c.ci), x, c.v) == 0
        case "in" => c.vs.exists(v => cmpVal(dts(c.ci), x, v) == 0)
      }
    }

  // ── the property ────────────────────────────────────────────────────

  test("pruned file set covers every matching row: 2800+ random cases") {
    val bucketable: Set[DataType] =
      Set(ByteType, ShortType, IntegerType, LongType, StringType, DateType)
    val truncatable: Set[DataType] = Set(IntegerType, LongType, StringType)
    var totalCases = 0

    // Directed sweep: tables 0..9 identity-partition on c0, one table
    // per pool type — EVERY type's partition-tuple comparator gets
    // range predicates (random specs alone left decimal/float identity
    // partitions uncovered; the round-7 decimal inversion sat exactly
    // there). Tables 10..11: unpartitioned (stats pruning only).
    // Tables 12..13: bucket/truncate transforms.
    for (table <- 0 until 14) {
      val nCols = 4
      val dts =
        if (table < typePool.length) typePool(table) +: Seq.fill(nCols - 1)(
          typePool(rnd.nextInt(typePool.length)))
        else Seq.fill(nCols)(typePool(rnd.nextInt(typePool.length)))
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        dts.zipWithIndex.map { case (dt, i) => StructField(s"c$i", dt, nullable = true) })
      val specOpt: Option[String] =
        if (table < typePool.length) Some("identity(c0)")
        else if (table < typePool.length + 2) None
        else if (table == typePool.length + 2) {
          val ok = dts.zipWithIndex.collect { case (dt, i) if bucketable(dt) => i }
          if (ok.isEmpty) None else Some(s"bucket(4,c${ok(rnd.nextInt(ok.length))})")
        } else {
          val ok = dts.zipWithIndex.collect { case (dt, i) if truncatable(dt) => i }
          if (ok.isEmpty) None else Some(s"truncate(3,c${ok(rnd.nextInt(ok.length))})")
        }
      // non-ASCII strings exercise UTF-8 stats compare, but when a
      // string-producing transform (identity/truncate) renders them
      // into a directory name this JVM's filesystem encoding
      // (sun.jnu.encoding) can't map it — keep the spec's SOURCE
      // column ASCII; every other column stays unrestricted
      val specCol: Int = specOpt
        .map(s => s.substring(s.lastIndexOf('c') + 1).takeWhile(_.isDigit).toInt)
        .getOrElse(-1)
      val asciiPool = stringPool.filter(_.forall(_ < 0x80))
      def cell(ci: Int, dt: DataType): Any =
        if (ci == specCol && dt == StringType && rnd.nextBoolean())
          asciiPool(rnd.nextInt(asciiPool.length))
        else randValue(dt) match {
          case s: String if ci == specCol =>
            s.filter(_ < 0x80) match { case "" => "pad"; case t => t }
          case v => v
        }
      val rows = (0 until 80).map { i =>
        Row.fromSeq(i.toLong +: dts.zipWithIndex.map { case (dt, ci) =>
          if (rnd.nextDouble() < 0.2) null else cell(ci, dt)
        })
      }
      val root = freshRoot(s"t$table")
      GraftTable.create(spark, root, schema,
        Map("graft.write-partitions" -> "5") ++ specOpt.map(GraftTable.specProp -> _))
      GraftTable.append(spark, root, spark.createDataFrame(rows.asJava, schema))

      // every row tagged with the file that holds it (one job per table)
      val allFiles = GraftTable.liveDataFiles(root, Nil)
      val tagged = spark.read.schema(schema)
        .parquet(allFiles.map(f => s"$root/${f.path}"): _*)
        .select(struct(schema.fieldNames.map(col).toSeq: _*).as("r"),
          col("_metadata.file_path").as("fp"))
        .collect()
        .map(r => (r.getStruct(0), r.getString(1).split('/').last))
      assert(tagged.length == 80, s"table $table: expected 80 rows, got ${tagged.length}")
      val pools: Seq[IndexedSeq[Any]] = (0 until nCols).map(i =>
        tagged.flatMap(t => Option(t._1.get(i + 1))).toIndexedSeq)
      val types = schema.fields.map(f => f.name -> f.dataType).toMap

      for (_ <- 0 until 100) {
        val conjs = Seq.fill(1 + rnd.nextInt(2))(randConj(dts, pools))
        val byColumn = GraftTable.predsOf(spark, schema,
          conjs.map(toColumn).reduce(_ && _))
        val byFilter = conjs.flatMap(c => GraftRelation.toPred(toFilter(c), types))
        for ((preds, route) <- Seq((byColumn, "column"), (byFilter, "dsv2"))) {
          val live = GraftTable.liveDataFiles(root, preds)
            .map(_.path.split('/').last).toSet
          tagged.foreach { case (row, file) =>
            if (rowMatches(dts, row, conjs) && !live.contains(file))
              fail(s"seed=$seed table=$table route=$route: file $file holds " +
                s"matching row $row but was pruned under [${conjs.mkString(" AND ")}] " +
                s"(preds=$preds, spec=$specOpt, schema=${dts.mkString(",")})")
          }
        }
        totalCases += 2
      }
    }
    assert(totalCases >= 2800, s"only $totalCases cases ran")
  }

  test("distributed planner agrees with the driver planner on random predicates") {
    // predCond is the executor-side TWIN of mayMatch/mayMatchPartition;
    // twin drift is exactly where the round-7/8 type-dispatch bugs
    // lived (decimal text order). Random predicates over tables whose
    // checkpoint forces the distributed path must produce the same
    // live-file count and the same rows as the driver planner, and the
    // native scan and DML victim selection must plan the driver's files.
    val layouts = Seq(
      ("identity(c0)", DecimalType(9, 2), false),   // the inversion-prone type
      ("identity(c0)", StringType, false),
      ("identity(c0)", TimestampType, false),
      ("days(c0)", TimestampType, false),           // time-bucket range compare
      ("months(c0)", DateType, false),
      ("bucket(4,c0)", LongType, false),            // equality-only transforms
      ("truncate(3,c0)", StringType, false),
      // live position and equality delete files, in the checkpoint and
      // in its tail
      ("bucket(4,c0)", LongType, true))
    val idKeys = StructType(Seq(StructField("id", LongType, nullable = false)))
    def deleteIds(root: String, ids: Long*): Unit =
      GraftTable.deleteEqualityMoR(spark, root,
        spark.createDataFrame(ids.map(Row(_)).asJava, idKeys))
    for (((spec, c0dt, withDeletes), ti) <- layouts.zipWithIndex) {
      val dts = Seq(c0dt, LongType, DoubleType, DateType)
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        dts.zipWithIndex.map { case (dt, i) => StructField(s"c$i", dt, nullable = true) })
      def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
        Row.fromSeq(i.toLong +: dts.zipWithIndex.map { case (dt, ci) =>
          if (rnd.nextDouble() < 0.15) null
          else randValue(dt) match {
            case s: String if ci == 0 => s.filter(_ < 0x80) match {
              case "" => "pad"; case t => t
            }
            case v => v
          }
        })
      }
      val root = freshRoot(s"dist$ti")
      GraftTable.create(spark, root, schema,
        Map(GraftTable.specProp -> spec,
          "graft.planning.distributed-threshold" -> "2"))
      val part1 = rows(0, 50)
      val part2 = rows(50, 70)
      GraftTable.append(spark, root, spark.createDataFrame(part1.asJava, schema))
      if (withDeletes) {
        GraftTable.deleteWhereMoR(spark, root, col("id") % 7 === 0)
        deleteIds(root, 3L, 11L)
      }
      GraftTable.rewriteManifests(root)   // parquet checkpoint
      // a post-checkpoint tail so the tail-resolution path participates
      GraftTable.append(spark, root, spark.createDataFrame(part2.asJava, schema))
      if (withDeletes) {
        GraftTable.deleteWhereMoR(spark, root, col("id") === 60L)
        deleteIds(root, 5L, 65L)
      }
      val driverDeletes = GraftTable.state(root).files.filter(_.isDelete).map(_.path).toSet
      assert(driverDeletes.size == (if (withDeletes) 4 else 0),
        s"layout $ti: live delete files $driverDeletes")
      val pools: Seq[IndexedSeq[Any]] = (0 until dts.length).map(i =>
        (part1 ++ part2).flatMap(r => Option(r.get(i + 1))).toIndexedSeq)
      for (_ <- 0 until 12) {
        val conjs = Seq.fill(1 + rnd.nextInt(2))(randConj(dts, pools))
        val preds = GraftTable.predsOf(spark, schema, conjs.map(toColumn).reduce(_ && _))
        val plan = GraftTable.planScan(spark, root, preds)
        assert(plan.distributed, s"layout $ti must plan distributed")
        val (ddf, dtotal, dlive) = GraftTable.scan(spark, root, preds)
        assert(plan.totalFiles == dtotal.toLong && plan.liveFiles == dlive.toLong,
          s"seed=$seed layout=$ti: planner disagreement under " +
            s"[${conjs.mkString(" AND ")}] (preds=$preds, " +
            s"dist=${plan.liveFiles} driver=$dlive)")
        assert(plan.df.except(ddf).isEmpty && ddf.except(plan.df).isEmpty,
          s"seed=$seed layout=$ti: row mismatch under [${conjs.mkString(" AND ")}]")
        val driverData = GraftTable.liveDataFiles(root, preds).map(_.path).toSet
        val native = GraftTable.planNativeScan(spark, root, preds, None)
          .getOrElse(fail(s"layout $ti: the native scan declined"))
        assert(native.distributedPlanned &&
          native.entries.map(_.path).toSet == driverData &&
          native.deletes.map(_.path).toSet == driverDeletes,
          s"seed=$seed layout=$ti: native plan disagrees under [${conjs.mkString(" AND ")}]")
        val (victims, dels, dist) = GraftTable.planDmlProbe(spark, root, preds)
        assert(dist && victims.toSet == driverData && dels.toSet == driverDeletes,
          s"seed=$seed layout=$ti: DML victims disagree under [${conjs.mkString(" AND ")}]")
      }
    }
  }

  test("spec evolution: mixed-spec cohorts prune exactly, driver and distributed") {
    // per-file spec-id dispatch (round-9 verdict #1): a table whose
    // files were written under DIFFERENT specs must prune each cohort
    // under the spec that wrote it — never over-prune (coverage
    // oracle), and the checkpoint planner must agree with the driver.
    val dts: Seq[DataType] = Seq(LongType, TimestampType, StringType, DoubleType)
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      dts.zipWithIndex.map { case (dt, i) => StructField(s"c$i", dt, nullable = true) })
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    // (create-time spec, fields to drop, fields to add)
    val transitions = Seq(
      (Some("identity(c0)"), Seq("c0"), Seq("days(c1)")),
      (Some("bucket(4,c0)"), Seq("bucket(4,c0)"), Seq.empty[String]),
      (None, Seq.empty[String], Seq("identity(c0)")),
      (Some("days(c1)"), Seq("days(c1)"), Seq("bucket(4,c0)", "truncate(3,c2)")),
      (Some("truncate(3,c2)"), Seq.empty[String], Seq("months(c1)")))
    var cases = 0
    for (((spec0, drops, adds), ti) <- transitions.zipWithIndex) {
      def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
        Row.fromSeq(i.toLong +: dts.zipWithIndex.map { case (dt, ci) =>
          if (rnd.nextDouble() < 0.15) null
          else randValue(dt) match {
            case s: String => s.filter(_ < 0x80) match { case "" => "pad"; case t => t }
            case v => v
          }
        })
      }
      val root = freshRoot(s"evo$ti")
      GraftTable.create(spark, root, schema,
        Map("graft.write-partitions" -> "3",
          "graft.planning.distributed-threshold" -> "2") ++
          spec0.map(GraftTable.specProp -> _))
      val part1 = rows(0, 60)
      GraftTable.append(spark, root, spark.createDataFrame(part1.asJava, schema))
      drops.foreach(GraftTable.dropPartitionField(root, _))
      adds.foreach(GraftTable.addPartitionField(root, _))
      val part2 = rows(60, 120)
      GraftTable.append(spark, root, spark.createDataFrame(part2.asJava, schema))
      GraftTable.rewriteManifests(root)   // mixed-spec parquet checkpoint
      val part3 = rows(120, 140)          // post-checkpoint tail, new spec
      GraftTable.append(spark, root, spark.createDataFrame(part3.asJava, schema))

      val allFiles = GraftTable.liveDataFiles(root, Nil)
      val tagged = spark.read.schema(schema)
        .parquet(allFiles.map(f => s"$root/${f.path}"): _*)
        .select(struct(schema.fieldNames.map(col).toSeq: _*).as("r"),
          col("_metadata.file_path").as("fp"))
        .collect()
        .map(r => (r.getStruct(0), r.getString(1).split('/').last))
      assert(tagged.length == 140, s"transition $ti: ${tagged.length} rows")
      val pools: Seq[IndexedSeq[Any]] = (0 until dts.length).map(i =>
        tagged.flatMap(t => Option(t._1.get(i + 1))).toIndexedSeq)

      for (_ <- 0 until 30) {
        val conjs = Seq.fill(1 + rnd.nextInt(2))(randConj(dts, pools))
        val preds = GraftTable.predsOf(spark, schema, conjs.map(toColumn).reduce(_ && _))
        // coverage: no matching row may lose its file (driver planner)
        val live = GraftTable.liveDataFiles(root, preds)
          .map(_.path.split('/').last).toSet
        tagged.foreach { case (row, file) =>
          if (rowMatches(dts, row, conjs) && !live.contains(file))
            fail(s"seed=$seed transition=$ti: file $file holds matching row " +
              s"$row but was pruned under [${conjs.mkString(" AND ")}] (preds=$preds)")
        }
        // parity: the checkpoint planner's per-row spec-id dispatch
        // must agree with the driver's per-entry dispatch exactly
        val plan = GraftTable.planScan(spark, root, preds)
        assert(plan.distributed, s"transition $ti must plan distributed")
        val (_, _, dlive) = GraftTable.scan(spark, root, preds)
        assert(plan.liveFiles == dlive.toLong,
          s"seed=$seed transition=$ti: planner disagreement under " +
            s"[${conjs.mkString(" AND ")}] (dist=${plan.liveFiles} driver=$dlive)")
        cases += 1
      }
    }
    assert(cases >= 150, s"only $cases cases ran")
  }
}
