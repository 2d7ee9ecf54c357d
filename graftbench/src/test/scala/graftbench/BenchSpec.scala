package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long): Seq[Long] = {
    val r = Gen.rng(seed, "lake_ingest")
    val lines = Gen.shipOrdered(r, 0L, 2000)
    val revised = lines.take(50).map(l => Gen.revise(r, l))
    val q = Gen.rng(seed, "lake_query.queries")
    val specs = (0 until 10).flatMap(_ => LakeQuery.block(q))
    val corpus = Gen.corpus(seed, 300, 0.05, 0.05)
    Seq(Gen.digest(lines), Gen.digest(revised), Gen.digest(specs), Gen.digest(corpus.docs),
      Gen.digest(corpus.copyGroups.toSeq.map(_.toSeq.sorted)), Gen.digest(corpus.nearPairs))
  }

  test("the same seed generates hash-equal inputs") {
    assert(inputs(7L) == inputs(7L))
  }

  test("a different seed generates different inputs, in every input kind") {
    inputs(7L).zip(inputs(8L)).foreach { case (a, b) => assert(a != b) }
  }

  test("a query block holds every kind exactly as often as the mix says") {
    val r = Gen.rng(5L, "t")
    (0 until 5).foreach { _ =>
      val kinds = LakeQuery.block(r).map(_.kind)
      assert(kinds.size == LakeQuery.blockSize)
      LakeQuery.mix.foreach { case (k, n) => assert(kinds.count(_ == k) == n) }
    }
  }

  test("ship-ordered rows ascend in ship date and row id, with whole-cent prices") {
    val ls = Gen.shipOrdered(Gen.rng(1L, "t"), 100L, 500)
    assert(ls.map(_.rowId).toSeq == (100L until 600L))
    assert(ls.map(_.shipDay).toSeq == ls.map(_.shipDay).toSeq.sorted)
    assert(ls.forall(l => BigDecimal(l.extendedPrice.toString).scale <= 2))
  }

  test("the corpus injects what its ground truth says") {
    val c = Gen.corpus(3L, 400, 0.1, 0.1)
    val text = c.docs.map(d => d.docId -> d.text).toMap
    assert(c.docs.map(_.docId).distinct.size == c.docs.size)
    c.copyGroups.foreach(g => assert(g.size > 1 && g.map(text).size == 1))
    c.nearPairs.foreach { case (a, b) => assert(text(a) != text(b)) }
    val exactGroups = c.docs.groupBy(_.text).values.filter(_.size > 1)
      .map(_.map(_.docId).toSet).toSet
    assert(exactGroups == c.copyGroups)
  }
}

class StatsSpec extends AnyFunSuite {
  test("percentiles interpolate between closest ranks") {
    val xs = (1 to 5).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 90) == 4.6)
    assert(Stats.percentile(Seq(2.0), 99) == 2.0)
    assert(Stats.percentile(xs, 25) == 2.0)
  }

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }
}

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, s: Long, e: Long) = Span(id, parent, 1L, s"s$id", s, e)

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val spans = Seq(span(0, -1, 0, 100),
      span(1, 0, 10, 30), span(2, 0, 20, 50),    // overlap: covers 10..50
      span(3, 0, 90, 120),                       // clipped: covers 90..100
      span(4, 1, 12, 28))                        // grandchild: only its parent's
    val self = Tracer.selfTimesNs(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 16)
    assert(self(2) == 30 && self(3) == 30 && self(4) == 16)
  }

  test("a child inside another child's interval is not subtracted twice") {
    val self = Tracer.selfTimesNs(Seq(span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 20, 40)))
    assert(self(0) == 50)
  }

  test("recorded spans nest and share their operation id") {
    val t = new Tracer(true)
    t.nextOp()
    t.span("outer") { t.span("inner")(()) ; t.span("inner")(()) }
    t.nextOp()
    t.span("next")(())
    val ss = t.recorded
    assert(ss.map(_.name) == Seq("outer", "inner", "inner", "next"))
    assert(ss.map(_.parent) == Seq(-1, 0, 0, -1))
    assert(ss.map(_.op) == Seq(1L, 1L, 1L, 2L))
    assert(ss.forall(s => s.endNs >= s.startNs))
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("x")(41) + 1 == 42)
    assert(t.recorded.isEmpty)
  }
}

class OracleSpec extends AnyFunSuite {
  private val lines = Gen.shipOrdered(Gen.rng(5L, "oracle"), 0L, 300).toSeq

  test("the ingest model rejects a wrong row count or checksum") {
    val m = new IngestModel
    m.append(lines)
    m.deleteRange(10L, 20L)
    val revised = Gen.revise(Gen.rng(5L, "r"), lines(50))
    m.upsert(Seq(revised))
    val truth = lines.filterNot(l => l.rowId >= 10 && l.rowId < 20).map(l =>
      if (l.rowId == 50) revised else l)
    val (n, s) = IngestModel.summarize(truth)
    assert(m.check("right", n, s).isEmpty)
    assert(m.check("one row short", n - 1, s).nonEmpty)
    // the pre-upsert version of row 50: right count, wrong content
    val (n2, s2) = IngestModel.summarize(truth.map(l => if (l.rowId == 50) lines(50) else l))
    assert(n2 == n && m.check("stale version", n2, s2).nonEmpty)
  }

  test("the query oracle accepts the right answer and rejects wrong ones") {
    val current = lines.filter(_.rowId != 7)
    val o = new QueryOracle(current, lines)
    val p = QuerySpec("point", 3L, 0L)
    val right = o.answer(p)
    assert(right.size == 1 && o.check(p, right).isEmpty)
    val l = lines(3)
    assert(o.check(p, Seq(QueryOracle.render(Seq(l.rowId, l.orderKey, l.quantity + 1,
      l.extendedPrice, l.shipDate)))).nonEmpty)
    assert(o.check(p, Nil).nonEmpty)
    // a deleted row is gone now, and still there when travelling back
    assert(o.answer(QuerySpec("point", 7L, 0L)).isEmpty)
    assert(o.answer(QuerySpec("timetravel", 7L, 0L)).size == 1)
    val range = QuerySpec("range", lines.head.shipDay.toLong, lines.last.shipDay + 1L)
    assert(o.check(range, Seq("0|null|null")).nonEmpty)
  }

  test("rendering ignores the scale an engine gives a decimal") {
    assert(QueryOracle.render(Seq(new java.math.BigDecimal("12.3400"), 1L, null)) ==
      QueryOracle.render(Seq(new java.math.BigDecimal("12.34"), 1L, null)))
    assert(QueryOracle.render(Seq(new java.math.BigDecimal("0.0000"))) == "0")
  }

  test("the dedup oracle rejects missed, extra and mis-sized exact groups") {
    val truth = Set(Set(1L, 5L), Set(2L, 9L, 11L))
    val right = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(DedupOracle.checkExactGroups(truth, right).isEmpty)
    assert(DedupOracle.checkExactGroups(truth, right.take(1)).nonEmpty)
    assert(DedupOracle.checkExactGroups(truth, right :+ ((4L, 2L))).nonEmpty)
    assert(DedupOracle.checkExactGroups(truth, Seq((1L, 2L), (2L, 2L))).nonEmpty)
  }

  test("near-duplicate recall counts pairs that share a component") {
    val pairs = Seq((1L, 2L), (3L, 4L))
    assert(DedupOracle.recall(pairs, Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L)) == 1.0)
    assert(DedupOracle.recall(pairs, Map(1L -> 1L, 2L -> 1L, 3L -> 3L)) == 0.5)
    assert(DedupOracle.checkRecall(0.5, DedupCorpus.minRecall).nonEmpty)
    assert(DedupOracle.checkRecall(1.0, DedupCorpus.minRecall).isEmpty)
  }
}
