package graftbench

import java.time.LocalDate

import scala.collection.mutable

/** In-memory model of a lake_ingest table: the live version of every
  * row id after the operations applied so far. A table read back from
  * the lake must match it in row count and in an order-independent
  * checksum (the wrapping sum of [[Line.hash]]). */
final class IngestModel {
  private val live = mutable.LongMap.empty[Line]
  private var sum = 0L

  def append(ls: Iterable[Line]): Unit = ls.foreach { l =>
    require(!live.contains(l.rowId), s"append of live row id ${l.rowId}")
    live(l.rowId) = l; sum += l.hash
  }
  def upsert(ls: Iterable[Line]): Unit = ls.foreach { l =>
    live.get(l.rowId).foreach(o => sum -= o.hash)
    live(l.rowId) = l; sum += l.hash
  }
  /** Delete every live row with lo <= row id < hi. */
  def deleteRange(lo: Long, hi: Long): Unit = (lo until hi).foreach { id =>
    live.remove(id).foreach(o => sum -= o.hash)
  }
  def get(id: Long): Option[Line] = live.get(id)
  def count: Long = live.size.toLong
  def checksum: Long = sum

  /** None when (count, checksum) of a read-back matches, else why not. */
  def check(what: String, gotCount: Long, gotChecksum: Long): Option[String] =
    IngestModel.compare(what, count, checksum, gotCount, gotChecksum)
}

object IngestModel {
  def summarize(ls: Iterable[Line]): (Long, Long) =
    ls.foldLeft((0L, 0L)) { case ((n, s), l) => (n + 1, s + l.hash) }

  def compare(what: String, wantCount: Long, wantSum: Long,
      gotCount: Long, gotSum: Long): Option[String] =
    if (wantCount == gotCount && wantSum == gotSum) None
    else Some(s"$what: read $gotCount rows (checksum $gotSum), model has " +
      s"$wantCount rows (checksum $wantSum)")
}

/** One query of the lake_query mix. `sql` names the table `$T`; `a`/`b`
  * are its parameters: a row id, or a [from, until) ship-day window. */
final case class QuerySpec(kind: String, a: Long, b: Long) {
  def sql(table: String, asOf: Long): String = {
    def day(d: Long) = s"DATE'${LocalDate.ofEpochDay(d)}'"
    kind match {
      case "point" =>
        s"SELECT row_id, l_orderkey, l_quantity, l_extendedprice, l_shipdate FROM $table " +
          s"WHERE row_id = $a"
      case "timetravel" =>
        s"SELECT row_id, l_orderkey, l_quantity, l_extendedprice, l_shipdate FROM $table " +
          s"VERSION AS OF $asOf WHERE row_id = $a"
      case "range" =>
        s"SELECT count(*) AS n, sum(l_quantity) AS q, " +
          s"sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS p FROM $table " +
          s"WHERE l_shipdate >= ${day(a)} AND l_shipdate < ${day(b)}"
      case "agg" =>
        s"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
          "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) " +
          s"AS dp FROM $table WHERE l_shipdate >= ${day(a)} AND l_shipdate < ${day(b)} " +
          "GROUP BY l_returnflag, l_linestatus"
    }
  }

  /** The query's predicates in the lake's pruning vocabulary. */
  def preds: Seq[graft.lake.GraftTable.Pred] = {
    import graft.lake.GraftTable.{Eq, Ge, Lt}
    def day(d: Long) = LocalDate.ofEpochDay(d).toString
    kind match {
      case "point" | "timetravel" => Seq(Eq("row_id", a.toString))
      case _ => Seq(Ge("l_shipdate", day(a)), Lt("l_shipdate", day(b)))
    }
  }
}

/** Reference answers for the query mix, computed in memory from the
  * generated rows — an engine independent of Spark. `current` is the
  * table's live content, `base` its content at the time-travel
  * snapshot. Answers are rows rendered by [[QueryOracle.render]], sorted. */
final class QueryOracle(current: Iterable[Line], base: Iterable[Line]) {
  private def byId(ls: Iterable[Line]) = {
    val m = mutable.LongMap.empty[Line]; ls.foreach(l => m(l.rowId) = l); m
  }
  private val byIdNow = byId(current)
  private val byIdBase = byId(base)
  private val byDay = current.toArray.sortBy(_.shipDay)
  private val days = byDay.map(_.shipDay.toLong)

  /** Rows with from <= ship day < until (lower bound by bisection). */
  private def window(from: Long, until: Long): Seq[Line] = {
    var lo = 0; var hi = days.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (days(m) < from) lo = m + 1 else hi = m }
    byDay.iterator.drop(lo).takeWhile(_.shipDay < until).toSeq
  }

  private def dec(d: Double) = new java.math.BigDecimal(d.toString)

  def answer(q: QuerySpec): Seq[String] = {
    import QueryOracle.render
    def point(m: mutable.LongMap[Line]) = m.get(q.a).toSeq.map(l =>
      render(Seq(l.rowId, l.orderKey, l.quantity, l.extendedPrice, l.shipDate)))
    q.kind match {
      case "point" => point(byIdNow)
      case "timetravel" => point(byIdBase)
      case "range" =>
        val w = window(q.a, q.b)
        Seq(if (w.isEmpty) render(Seq(0L, null, null))
            else render(Seq(w.size.toLong, w.map(_.quantity).sum,
              w.map(l => dec(l.extendedPrice)).reduce(_ add _))))
      case "agg" =>
        window(q.a, q.b).groupBy(l => (l.returnFlag, l.lineStatus)).toSeq.map {
          case ((rf, ls), g) => render(Seq(rf, ls, g.size.toLong, g.map(_.quantity).sum,
            g.map(l => dec(l.extendedPrice).multiply(java.math.BigDecimal.ONE
              .subtract(dec(l.discount)))).reduce(_ add _)))
        }.sorted
    }
  }

  def check(q: QuerySpec, got: Seq[String]): Option[String] = {
    val want = answer(q)
    if (got.sorted == want) None
    else Some(s"${q.kind}(${q.a}, ${q.b}): got ${got.sorted.take(4)} want ${want.take(4)}")
  }
}

object QueryOracle {
  /** One result row as text: decimals without trailing zeros, so a
    * value compares equal whatever scale the engine's arithmetic chose. */
  def render(values: Seq[Any]): String = values.map {
    case null => "null"
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => render(Seq(d.bigDecimal))
    case d: java.sql.Date => d.toLocalDate.toString
    case v => v.toString
  }.mkString("|")
}

/** Ground-truth checks for dedup_corpus. */
object DedupOracle {
  /** The exact-duplicate stage's groups with more than one member, as
    * (keep id, copies), must be the injected copy groups. */
  def checkExactGroups(truth: Set[Set[Long]], got: Seq[(Long, Long)]): Option[String] = {
    val want = truth.map(g => (g.min, g.size.toLong))
    val have = got.filter(_._2 > 1).toSet
    if (have == want && got.count(_._2 > 1) == have.size) None
    else Some(s"exact-dup groups: ${(have -- want).take(3)} not injected, " +
      s"${(want -- have).take(3)} missed (${have.size} found, ${want.size} injected)")
  }

  /** Share of injected near-duplicate pairs whose two documents ended
    * up in one connected component (`comp`: doc id -> component). */
  def recall(nearPairs: Seq[(Long, Long)], comp: Map[Long, Long]): Double =
    if (nearPairs.isEmpty) 1.0
    else nearPairs.count { case (a, b) =>
      comp.get(a).exists(ca => comp.get(b).contains(ca))
    }.toDouble / nearPairs.size

  /** A near-dup clustering that finds fewer than `minRecall` of the
    * injected pairs is a wrong answer, not just a slow one. */
  def checkRecall(r: Double, minRecall: Double): Option[String] =
    if (r >= minRecall) None else Some(f"near-dup recall $r%.3f below $minRecall")
}
