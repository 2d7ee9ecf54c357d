package graftbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One lineitem-shaped row. lineitem has no unique key — (orderkey,
  * linenumber) repeats — so every row carries a generated `rowId`
  * that upserts and deletes key on. `shipDay` is days since the epoch. */
final case class Line(rowId: Long, orderKey: Long, partKey: Long, suppKey: Long,
    lineNumber: Int, quantity: Double, extendedPrice: Double, discount: Double,
    tax: Double, returnFlag: String, lineStatus: String, shipDay: Int) {
  def shipDate: LocalDate = LocalDate.ofEpochDay(shipDay.toLong)
  def toRow: Row = Row(rowId, orderKey, partKey, suppKey, lineNumber, quantity,
    extendedPrice, discount, tax, returnFlag, lineStatus, shipDate)
  /** Order-independent checksums add these up. */
  def hash: Long = Gen.mix(Seq(rowId, orderKey, partKey, suppKey, lineNumber.toLong,
    java.lang.Double.doubleToLongBits(quantity),
    java.lang.Double.doubleToLongBits(extendedPrice),
    java.lang.Double.doubleToLongBits(discount),
    java.lang.Double.doubleToLongBits(tax),
    returnFlag.hashCode.toLong, lineStatus.hashCode.toLong, shipDay.toLong))
  /** Bytes of the row as a user hands it over: 8 per numeric or date
    * column, UTF-8 length for strings — the base of write amplification. */
  def logicalBytes: Long = 11 * 8L + returnFlag.length + lineStatus.length
}

object Line {
  val schema: StructType = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))

  def fromRow(r: Row): Line = Line(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
    r.getInt(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8),
    r.getString(9), r.getString(10), r.getAs[LocalDate](11).toEpochDay.toInt)

  def toDf(spark: SparkSession, lines: Seq[Line]): DataFrame = {
    val rows = new java.util.ArrayList[Row](lines.size)
    lines.foreach(l => rows.add(l.toRow))
    spark.createDataFrame(rows, schema)
  }
}

/** One generated document of the dedup corpus. */
final case class Doc(docId: Long, text: String, lang: String, source: String) {
  def toRow: Row = Row(docId, text, lang, source, text.length.toLong)
}

object Doc {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
}

/** Seeded input generation. Every input a workload feeds the program is
  * a pure function of the seed: [[rng]] derives an independent stream
  * per purpose, so adding a draw to one stream never shifts another. */
object Gen {
  /** TPC-H's ship-date window starts here and spans ~2,526 days. */
  val firstShipDay: Int = LocalDate.of(1992, 1, 2).toEpochDay.toInt
  val shipDays = 2526

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(mix(Seq(seed, stream.hashCode.toLong)))

  /** 64-bit avalanche fold (splitmix64 finalizer per element). */
  def mix(xs: Seq[Long]): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val flags = Vector("A", "N", "R")
  private val statuses = Vector("F", "O")

  /** A lineitem row with key `rowId` and ship day `shipDay`; the other
    * columns are drawn from `r` over TPC-H's domains. */
  def line(r: SplittableRandom, rowId: Long, shipDay: Int): Line = {
    val qty = r.nextInt(1, 51)
    Line(rowId, r.nextLong(1, 600001), r.nextLong(1, 20001), r.nextLong(1, 1001),
      r.nextInt(1, 8), qty.toDouble,
      (qty * r.nextLong(90000, 210000)) / 100.0,   // whole cents
      r.nextInt(0, 11) / 100.0, r.nextInt(0, 9) / 100.0,
      flags(r.nextInt(3)), statuses(r.nextInt(2)), shipDay)
  }

  /** `n` rows with row ids `firstId`.. in ascending ship-date order —
    * the order a table loaded day by day has, which gives min/max
    * pruning on both row_id and l_shipdate something to skip. */
  def shipOrdered(r: SplittableRandom, firstId: Long, n: Int): Array[Line] = {
    val days = Array.fill(n)(firstShipDay + r.nextInt(shipDays))
    java.util.Arrays.sort(days)
    Array.tabulate(n)(i => line(r, firstId + i, days(i)))
  }

  /** A new version of `old`: same key, fresh values. */
  def revise(r: SplittableRandom, old: Line): Line = line(r, old.rowId, old.shipDay)

  /** Digest of any generated input, for the same-seed-same-input test. */
  def digest(items: Iterable[Any]): Long = mix(items.iterator.map(_.hashCode.toLong).toSeq)

  // ── documents ───────────────────────────────────────────────────────

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  /** Vocabulary of pronounceable pseudo-words (fixed: not seeded). */
  val vocab: IndexedSeq[String] = {
    val c = "bcdfghjklmnprstvz"; val v = "aeiou"
    val r = new SplittableRandom(7L)
    stopwords.toIndexedSeq ++ (0 until 1990).map { _ =>
      (0 until 2 + r.nextInt(3)).map(_ =>
        s"${c.charAt(r.nextInt(c.length))}${v.charAt(r.nextInt(v.length))}").mkString
    }.distinct
  }

  private def word(r: SplittableRandom): String =
    if (r.nextInt(4) == 0) stopwords(r.nextInt(stopwords.size))
    else vocab(stopwords.size + r.nextInt(vocab.size - stopwords.size))

  /** A corpus of `nBase` random documents plus injected duplicates:
    * each base document gets one or two exact copies with probability
    * `copyRate`, and a near-duplicate variant (two words substituted,
    * word 3-gram Jaccard ~0.8) with probability `nearRate`. Doc ids are
    * a seeded permutation, so a copy is not always the larger id. */
  def corpus(seed: Long, nBase: Int, copyRate: Double, nearRate: Double): Corpus = {
    val r = rng(seed, "corpus")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val copyOf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]   // (base, copy)
    val nearOf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]   // (base, variant)
    val bases = (0 until nBase).map(_ => Array.fill(30 + r.nextInt(50))(word(r)))
    bases.foreach(ws => texts += ws.mkString(" "))
    bases.indices.foreach { b =>
      if (r.nextDouble() < copyRate) (0 to r.nextInt(2)).foreach { _ =>
        copyOf += ((b, texts.size)); texts += texts(b)
      }
      if (r.nextDouble() < nearRate) {
        val ws = bases(b).clone()
        (0 until 2).foreach { _ =>
          val i = r.nextInt(ws.length)
          var w = word(r)
          while (w == ws(i)) w = word(r)
          ws(i) = w
        }
        nearOf += ((b, texts.size)); texts += ws.mkString(" ")
      }
    }
    // seeded permutation of positions to doc ids (Fisher-Yates)
    val ids = Array.tabulate(texts.size)(_.toLong)
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val langs = Array("en", "de", "fr", "zh")
    val docs = texts.indices.map(i =>
      Doc(ids(i), texts(i), langs(r.nextInt(langs.length)), s"src${r.nextInt(4)}"))
      .sortBy(_.docId)
    val groups = copyOf.groupBy(_._1).map { case (b, cs) =>
      (cs.map(c => ids(c._2)) :+ ids(b)).toSet }.toSet
    Corpus(docs, groups, nearOf.map { case (b, v) => (ids(b), ids(v)) }.toSeq)
  }
}

/** A generated corpus with its ground truth: `copyGroups` are the sets
  * of doc ids sharing one exact text (injected copies and their base),
  * `nearPairs` the (base, variant) near-duplicate pairs. */
final case class Corpus(docs: IndexedSeq[Doc], copyGroups: Set[Set[Long]],
    nearPairs: Seq[(Long, Long)]) {
  def toDf(spark: SparkSession): DataFrame = {
    val rows = new java.util.ArrayList[Row](docs.size)
    docs.foreach(d => rows.add(d.toRow))
    spark.createDataFrame(rows, Doc.schema)
  }
}
