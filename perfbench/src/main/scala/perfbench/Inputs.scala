package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Seeded input generators. Every table is a pure function of the
  * seed; the ground truth each workload checks against is computed
  * from the same in-memory arrays, never from the library under test.
  * Files are written once per seed under the data directory and reused
  * by later runs with that seed (a `_DONE` marker guards half-written
  * sets). */
object Inputs {

  /** Run `write` into `dir` unless a complete copy already exists. */
  def cached(dir: Path)(write: Path => Unit): Path = {
    if (!Files.exists(dir.resolve("_DONE"))) {
      Util.deleteTree(dir)
      Files.createDirectories(dir)
      write(dir)
      Files.createFile(dir.resolve("_DONE"))
    }
    dir
  }

  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
                   path: Path): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path.toString)
}

/** The reference fixture shapes (people / stock / orders CSV), scaled:
  * `nPeople` people, 8 stock rows, `nOrders` orders split over
  * `parts` CSV files that each carry the header. */
final class EtlData(seed: Long, val nPeople: Int, val nOrders: Int, parts: Int) {
  import EtlData._
  private val rng = new SplittableRandom(seed)
  val born: Array[Int] = Array.fill(nPeople)(1916 + rng.nextInt(90))
  val cust: Array[Int] = Array.fill(nOrders)(rng.nextInt(nPeople))
  val prod: Array[Int] = Array.fill(nOrders)(rng.nextInt(8))
  val qty: Array[Int] = Array.fill(nOrders)(1 + rng.nextInt(100))
  private val tsOffset: Array[Int] = Array.fill(nOrders)(rng.nextInt(100000))

  def write(dir: Path): Unit = {
    Util.writeLines(dir.resolve("people.csv"),
      "id,name,surname,born" +: (0 until nPeople).map(i =>
        s"$i,${FirstNames(i % 10)},${Surnames(i / 10 % 12)},${born(i)}"))
    Util.writeLines(dir.resolve("stock.csv"),
      "prod_id,product,price" +: Products.indices.map(i =>
        f"$i,${Products(i)},${(i + 1) / 100.0}%.2f"))
    val od = Files.createDirectories(dir.resolve("orders"))
    val per = (nOrders + parts - 1) / parts
    (0 until parts).foreach { p =>
      val ids = (p * per) until math.min(nOrders, (p + 1) * per)
      Util.writeLines(od.resolve(f"part-$p%05d.csv"),
        "order_id,cust_id,prod_id,qty,ts" +: ids.map(i =>
          s"$i,${cust(i)},${prod(i)},${qty(i)},${BaseTime.minusSeconds(tsOffset(i).toLong)}"))
    }
  }

  /** People whose orders the pipeline's `except` removes. */
  def excluded(id: Int): Boolean = born(id) > ExcludeBornAfter

  /** Ground truth of one full pipeline pass. */
  lazy val truth: EtlTruth = {
    var joined = 0L; var joinedQty = 0L
    // best order per (customer, product): max qty, then smallest id
    val best = new java.util.HashMap[Long, Int]()
    var i = 0
    while (i < nOrders) {
      if (qty(i) >= MinQty && !excluded(cust(i))) {
        joined += 1; joinedQty += qty(i)
        val k = cust(i).toLong * 8 + prod(i)
        val b = best.getOrDefault(k, -1)
        if (b < 0 || qty(i) > qty(b)) best.put(k, i)
      }
      i += 1
    }
    val perCust = new java.util.HashMap[Int, Long]()
    best.values.asScala.foreach(o => perCust.merge(cust(o), qty(o).toLong, _ + _))
    EtlTruth(joined, joinedQty, best.size.toLong,
      best.values.asScala.map(o => qty(o).toLong).sum,
      perCust.asScala.map { case (k, v) => k.toInt -> v.toLong }.toMap)
  }
}

final case class EtlTruth(joinedRows: Long, joinedQty: Long, outRows: Long,
                          outQty: Long, qtyPerCustomer: Map[Int, Long])

object EtlData {
  val FirstNames = Vector("Amelia", "Olivia", "Emily", "Ava", "Isla",
    "Oliver", "Jack", "Harry", "Jacob", "Charlie")
  val Surnames = Vector("Smith", "Jones", "Taylor", "Williams", "Brown",
    "Davies", "Evans", "Wilson", "Thomas", "Roberts", "Johnson", "Lewis")
  val Products = Vector("banana", "apple", "orange", "pea", "tomato",
    "potato", "cucumber", "iPhone")
  val BaseTime: java.time.Instant = java.time.Instant.parse("2024-01-01T00:00:00Z")
  val MinQty = 10
  val ExcludeBornAfter = 1990
}

/** A TPC-H-shaped star (customer, orders, lineitem, nation) with the
  * column names and types the library's TPC-H query shapes read.
  * Orders go only to customers whose key is not a multiple of 3, as in
  * TPC-H, so one customer in three has no orders. */
final class TpchData(seed: Long, val nCust: Int) {
  import TpchData._
  private val rng = new SplittableRandom(seed)
  val nOrders: Int = nCust * 10
  val cNation: Array[Int] = Array.fill(nCust)(rng.nextInt(25))
  val cSegment: Array[Int] = Array.fill(nCust)(rng.nextInt(5))
  val cAcctbal: Array[Double] = Array.fill(nCust)(rng.nextInt(-99999, 1000000) / 100.0)
  val oCust: Array[Long] = Array.fill(nOrders) {
    var c = 0L
    while (c % 3 == 0) c = 1L + rng.nextInt(nCust)
    c
  }
  val oDay: Array[Int] = Array.fill(nOrders)(rng.nextInt(LastOrderDay - FirstDay + 1) + FirstDay)
  val oPrice: Array[Double] = Array.fill(nOrders)(rng.nextInt(100000, 50000000) / 100.0)
  val oPriority: Array[Int] = Array.fill(nOrders)(rng.nextInt(5))
  // lineitems: 1..7 per order
  private val lOrder, lLine, lDay = scala.collection.mutable.ArrayBuilder.make[Int]
  private val lPrice = scala.collection.mutable.ArrayBuilder.make[Double]
  private val lDisc, lFlag = scala.collection.mutable.ArrayBuilder.make[Int]
  (0 until nOrders).foreach { o =>
    (1 to 1 + rng.nextInt(7)).foreach { ln =>
      lOrder += o; lLine += ln
      lDay += oDay(o) + 1 + rng.nextInt(121)
      lPrice += rng.nextInt(90000, 10500000) / 100.0
      lDisc += rng.nextInt(11)
      lFlag += rng.nextInt(3)
    }
  }
  val (liOrder, liLine, liDay, liPrice, liDisc, liFlag) = (lOrder.result(),
    lLine.result(), lDay.result(), lPrice.result(), lDisc.result(), lFlag.result())
  private val liRng = new SplittableRandom(seed ^ 0x5DEECE66DL)

  def orderKey(o: Int): Long = o + 1L

  def write(spark: SparkSession, dir: Path): Unit = {
    def ts(day: Int) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L))
    Inputs.writeParquet(spark, (0 until 25).map(n =>
      Row(n, Nations(n), n / 5)), NationSchema, dir.resolve("nation.parquet"))
    Inputs.writeParquet(spark, (0 until nCust).map(c =>
      Row(c + 1L, f"Customer#${c + 1}%09d", cNation(c), cAcctbal(c),
        Segments(cSegment(c)))), CustomerSchema, dir.resolve("customer.parquet"))
    Inputs.writeParquet(spark, (0 until nOrders).map(o =>
      Row(orderKey(o), oCust(o), "OFP".substring(o % 3, o % 3 + 1), oPrice(o),
        ts(oDay(o)), Priorities(oPriority(o)))), OrdersSchema,
      dir.resolve("orders.parquet"))
    Inputs.writeParquet(spark, liOrder.indices.map { i =>
      Row(orderKey(liOrder(i)), 1L + liRng.nextInt(20000), 1L + liRng.nextInt(1000),
        liLine(i), 1.0 + liRng.nextInt(50), liPrice(i), liDisc(i) / 100.0,
        liRng.nextInt(9) / 100.0, "RAN".substring(liFlag(i), liFlag(i) + 1),
        if (liDay(i) > LastOrderDay) "O" else "F", ts(liDay(i)))
    }, LineitemSchema, dir.resolve("lineitem.parquet"))
  }

  /** Sorted order keys of each customer (absent = no orders). */
  lazy val ordersOf: Map[Long, Array[Long]] =
    (0 until nOrders).groupBy(oCust(_)).map { case (c, os) =>
      c -> os.map(orderKey).sorted.toArray
    }

  /** Sorted customer keys per (nation, segment). */
  lazy val custOf: Map[(Int, String), Array[Long]] =
    (0 until nCust).groupBy(c => (cNation(c), Segments(cSegment(c))))
      .map { case (k, cs) => k -> cs.map(_ + 1L).sorted.toArray }

  private def revenue(i: Int): BigDecimal =
    BigDecimal(liPrice(i).toString) * (BigDecimal(1) - BigDecimal(liDisc(i)) / 100)

  /** Expected `q_tpch_q3` rows: (l_orderkey, o_orderdate, revenue). */
  lazy val q3: Seq[(Long, String, Double)] = {
    val cut = Day("1998-03-15")
    val rev = scala.collection.mutable.HashMap[Int, BigDecimal]()
    liOrder.indices.foreach { i =>
      val o = liOrder(i)
      if (liDay(i) > cut && oDay(o) < cut &&
          cSegment((oCust(o) - 1).toInt) == 1 /* BUILDING */)
        rev(o) = rev.getOrElse(o, BigDecimal(0)) + revenue(i)
    }
    rev.toSeq.map { case (o, r) => (orderKey(o), DayStr(oDay(o)), r.toDouble) }
      .sortBy(t => (-t._3, t._1)).take(10)
  }

  /** Expected `q_tpch_q10` rows: (c_custkey, revenue). */
  lazy val q10: Seq[(Long, Double)] = {
    val (lo, hi) = (Day("1997-10-01"), Day("1998-01-01"))
    val rev = scala.collection.mutable.HashMap[Long, BigDecimal]()
    liOrder.indices.foreach { i =>
      val o = liOrder(i)
      if (liFlag(i) == 0 && oDay(o) >= lo && oDay(o) < hi)
        rev(oCust(o)) = rev.getOrElse(oCust(o), BigDecimal(0)) + revenue(i)
    }
    rev.toSeq.map { case (c, r) => (c, r.toDouble) }
      .sortBy(t => (-t._2, t._1)).take(20)
  }
}

object TpchData {
  def Day(s: String): Int = java.time.LocalDate.parse(s).toEpochDay.toInt
  def DayStr(d: Int): String = java.time.LocalDate.ofEpochDay(d.toLong).toString
  val FirstDay: Int = Day("1992-01-01")
  val LastOrderDay: Int = Day("1998-08-02")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Nations: Vector[String] = Vector("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
    "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
    "MOZAMBIQUE")
  val NationSchema: StructType = StructType(Seq(StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType), StructField("n_regionkey", IntegerType)))
  val CustomerSchema: StructType = StructType(Seq(StructField("c_custkey", LongType),
    StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType)))
  val OrdersSchema: StructType = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))
  val LineitemSchema: StructType = StructType(Seq(StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType)))
}

/** Synthetic documents: random word sequences over a seeded
  * vocabulary, so two independently drawn documents share no word
  * 3-gram, plus planted near-copies that differ from their source in
  * exactly one word (3-shingle Jaccard >= 0.9 at 60+ words). */
final class Docs(seed: Long) {
  private val vocab: Array[String] = {
    val r = new SplittableRandom(seed)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 4000)
      seen += (1 to 3 + r.nextInt(7)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    seen.toArray
  }

  def fresh(r: SplittableRandom): String =
    Array.fill(60 + r.nextInt(41))(vocab(r.nextInt(vocab.length))).mkString(" ")

  /** `text` with one word (never the first or last) replaced. */
  def nearCopy(text: String, r: SplittableRandom): String = {
    val w = text.split(' ')
    val i = 1 + r.nextInt(w.length - 2)
    var v = w(i)
    while (v == w(i)) v = vocab(r.nextInt(vocab.length))
    w(i) = v
    w.mkString(" ")
  }
}

/** A corpus of `nBase` source documents, a quarter of which get one or
  * two planted near-copies right after them. Ids are 1..n. */
final class Corpus(seed: Long, nBase: Int) {
  val docs = new Docs(seed)
  val (ids, texts, groups) = {
    val r = new SplittableRandom(seed * 31 + 7)
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val groups = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    (0 until nBase).foreach { _ =>
      val t = docs.fresh(r)
      ids += ids.size + 1L; texts += t
      if (r.nextInt(4) == 0) {
        val g = Seq(ids.last) ++ (1 to 1 + r.nextInt(2)).map { _ =>
          ids += ids.size + 1L; texts += docs.nearCopy(t, r); ids.last
        }
        groups += g
      }
    }
    (ids.toArray, texts.toArray, groups.toSeq)
  }
  private val grouped: Set[Long] = groups.flatten.toSet

  /** Documents in no planted group. */
  def singles: Array[Long] = ids.filterNot(grouped)

  /** nearDedup survivors: every single plus the smallest id of a group. */
  def survivors: Set[Long] = singles.toSet ++ groups.map(_.min)

  /** Every within-group pair (a < b). */
  def pairs: Set[(Long, Long)] = groups.flatMap(g =>
    for (a <- g; b <- g if a < b) yield (a, b)).toSet

  def write(spark: SparkSession, dir: Path): Unit =
    Inputs.writeParquet(spark, ids.indices.map(i => Row(ids(i), texts(i))),
      Corpus.Schema, dir.resolve("corpus.parquet"))
}

object Corpus {
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
}
