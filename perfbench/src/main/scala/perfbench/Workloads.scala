package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import graft.SparkEntry
import graft.functions.TextFunctions
import graft.operators.{Dedup, Index, Pipe, Store}
import graft.sources.CsvSource
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** What every workload sees: the session, the current tracer, where
  * seeded inputs are cached and a per-run scratch directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val dataRoot: Path,
                val runDir: Path) {
  var tracer: Tracer = new Tracer(spark, enabled = false)
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

/** Result of one closed-loop operation: input rows it completed and
  * every way its output differed from the ground truth. */
final case class Op(rows: Long, errors: Seq[String])

trait Workload {
  /** Generate (or reuse) the seeded inputs. Not timed. */
  def prepare(): Unit
  /** The one-time build a user pays before the first operation; run
    * several times, the last build is the one the loop uses. */
  def setup(rep: Int): Unit
  /** Operations run (and checked) after set-up and before timing, for
    * JIT and codegen warm-up. */
  def warmupOps: Int
  /** One closed-loop operation. */
  def op(i: Int): Op
  /** Traced runs only: extra passes that split lazy pipelines by layer;
    * returns how their outputs differed from the ground truth. */
  def attribute(): Seq[String] = Nil
  /** Checks that need the whole run (e.g. reading back the last output). */
  def finish(): Seq[String] = Nil
  /** Workload-specific figures for the human-readable report. */
  def report(): Seq[(String, String)] = Nil
}

object Workloads {
  val Names: Seq[String] = Seq("etl_csv", "lookup_mix", "dedup_ingest")

  def apply(name: String, c: Ctx): Workload = name match {
    case "etl_csv" => new EtlCsv(c)
    case "lookup_mix" => new LookupMix(c)
    case "dedup_ingest" => new DedupIngest(c)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  def expect[T](what: String, got: T, want: T): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")
}

import Workloads.expect

/** The reference's own use: CSV in, filter, map, joins against a
  * broadcast people index and the stock index, an anti-join, a
  * two-column non-broadcast index with duplicate resolution, CSV out. */
final class EtlCsv(c: Ctx) extends Workload {
  import c.spark
  private val data = new EtlData(c.seed, nPeople = 100000, nOrders = 200000, parts = 8)
  private var dir: Path = _
  private val out = c.runDir.resolve("etl_out").toString

  def prepare(): Unit = {
    dir = Inputs.cached(c.dataRoot.resolve(
      s"etl-p${data.nPeople}-o${data.nOrders}-s${c.seed}"))(data.write)
    data.truth
  }

  private def csv(p: String) = CsvSource(dir.resolve(p).toString)

  private def people() = csv("people.csv")
    .expectHeader(Map("id" -> 0, "name" -> 1, "surname" -> 2, "born" -> 3)).read(spark)

  /** Everything up to the duplicate-resolving index, lazily. */
  private def pipeline(orders: CsvSource): Pipe = {
    val people = this.people()
    val peopleIdx = c.span("operators.Index.uniqueIndexOn")(
      Index.uniqueIndexOn(people, "id"))
    val stockIdx = c.span("operators.Index.uniqueIndexOn")(
      Index.uniqueIndexOn(csv("stock.csv").read(spark), "prod_id"))
    val young = Index.indexOn(
      people.filter(col("born").cast("int") > EtlData.ExcludeBornAfter).select("id"), "id")
    val src = c.span("sources.CsvSource.read")(orders
      .expectHeader(Map("order_id" -> 0, "cust_id" -> 1, "prod_id" -> 2, "qty" -> 3))
      .selectColumns("order_id", "cust_id", "prod_id", "qty").read(spark))
    Pipe(src)
      .filter(col("qty").cast("int") >= EtlData.MinQty)
      .mapColumns("qty_i" -> col("qty").cast("int"),
        "oid" -> col("order_id").cast("long"))
      .join(peopleIdx, "cust_id")
      .join(stockIdx, "prod_id")
      .mapColumns("amount" -> col("qty_i") * col("price").cast("double"))
      .except(young, "cust_id")
  }

  /** Largest order per (customer, product), ties to the smallest id;
    * too large to broadcast, so it is built with a shuffle. */
  private def best(p: Pipe): Index =
    Index.build(p.df, Seq("cust_id", "prod_id"), unique = false, broadcastHint = false)
      .resolveDuplicatesBy(col("qty_i").desc, col("oid").asc)

  private val OutCols = Seq("cust_id", "prod_id", "order_id", "name", "surname",
    "product", "qty", "amount")

  /** The two broadcast indexes, with their eager uniqueness checks. */
  def setup(rep: Int): Unit = {
    Index.uniqueIndexOn(people(), "id")
    Index.uniqueIndexOn(csv("stock.csv").read(spark), "prod_id")
  }

  val warmupOps = 3

  def op(i: Int): Op = {
    val obsIn = Observation(s"joined$i")
    val obsOut = Observation(s"out$i")
    val joined = pipeline(csv("orders"))
      .observe(obsIn, count(lit(1)).as("n"), sum(col("qty_i")).as("q"))
    c.span("operators.Pipe.toCsv")(Pipe(best(joined).df)
      .observe(obsOut, count(lit(1)).as("n"), sum(col("qty_i")).as("q"))
      .toCsv(out, OutCols))
    val (gi, go, t) = (obsIn.get, obsOut.get, data.truth)
    Op(data.nOrders,
      expect("joined rows", gi("n"), t.joinedRows) ++
        expect("joined qty", gi("q"), t.joinedQty) ++
        expect("output rows", go("n"), t.outRows) ++
        expect("output qty", go("q"), t.outQty))
  }

  /** Forces two prefixes of the pipeline: the scan alone, and
    * everything up to the resolved index without the CSV sink. */
  override def attribute(): Seq[String] = {
    c.span("sources.CsvSource.scan")(c.noop(
      csv("orders").selectColumns("order_id", "cust_id", "prod_id", "qty").read(spark)))
    c.span("operators.Index.build")(c.noop(best(pipeline(csv("orders"))).df))
    Nil
  }

  /** Per-customer qty sums of the last output, read back from CSV. */
  override def finish(): Seq[String] = {
    val got = spark.read.option("header", "true").csv(out)
      .groupBy(col("cust_id").cast("int")).agg(sum(col("qty").cast("long")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = data.truth.qtyPerCustomer
    val bad = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    expect("customers with a wrong qty sum in the output CSV", bad, 0)
  }

  override def report(): Seq[(String, String)] = Seq(
    "input" -> s"${data.nPeople} people, 8 stock, ${data.nOrders} orders in 8 CSV parts")
}

/** A seeded request stream over a TPC-H-shaped star: point lookups on
  * a persisted orders index, sub-index ranges, small join / anti-join
  * probes and two TPC-H query shapes. Requests come in cycles of 20:
  * 12 find, 4 subIndex, 2 join and 1 except in a seeded order, then one
  * TPC-H shape (q3 and q10 alternating). Every seed sees the same mix,
  * and the slow TPC-H requests sit at the same places in the stream. */
final class LookupMix(c: Ctx) extends Workload {
  import c.spark
  private val data = new TpchData(c.seed, nCust = 5000)
  private var dir: String = _
  private var orders: Index = _
  private var customers: Index = _
  private val rng = new SplittableRandom(c.seed * 7 + 1)
  private val Cycle = Seq.fill(12)("find") ++ Seq.fill(4)("subIndex") ++
    Seq("join", "join", "except")
  private var queue = List.empty[String]
  private var tpchCount = 0
  private val kinds = scala.collection.mutable.ArrayBuffer[String]()
  private lazy val q3 = SparkEntry.queries("q_tpch_q3")
  private lazy val q10 = SparkEntry.queries("q_tpch_q10")

  def prepare(): Unit = {
    dir = Inputs.cached(c.dataRoot.resolve(s"tpch-c${data.nCust}-s${c.seed}"))(
      data.write(spark, _)).toString
    (data.ordersOf, data.custOf, data.q3, data.q10)
  }

  private def table(n: String) = spark.read.parquet(s"$dir/$n.parquet")

  /** Persist the orders index; requests reload it from disk. */
  def setup(rep: Int): Unit = {
    val path = c.runDir.resolve(s"orders_idx_$rep").toString
    c.span("operators.Index.writeTo")(
      Index.indexOn(table("orders"), "o_custkey", "o_orderkey").writeTo(path))
    orders = Index.load(spark, path, "o_custkey", "o_orderkey")
    customers = Index.indexOn(table("customer"), "c_nationkey", "c_mktsegment", "c_custkey")
  }

  val warmupOps = 40

  private val KeySchema = StructType(Seq(StructField("o_custkey", LongType)))

  def op(i: Int): Op = {
    if (queue.isEmpty) queue = Util.shuffle(Cycle, rng).toList :+ "tpch"
    val kind = queue.head
    queue = queue.tail
    Op(1, request(kind))
  }

  private def request(kind: String): Seq[String] = kind match {
    case "find" =>
      kinds += kind
      val cust = 1L + rng.nextInt(data.nCust)
      val got = c.span("operators.Index.find")(
        orders.find(cust).select("o_orderkey").collect().map(_.getLong(0)).toSeq)
      expect(s"find($cust)", got, data.ordersOf.getOrElse(cust, Array.empty[Long]).toSeq)
    case "subIndex" =>
      kinds += kind
      val (n, s) = (rng.nextInt(25), TpchData.Segments(rng.nextInt(5)))
      val got = c.span("operators.Index.subIndex")(customers.subIndex(n, s)
        .iterate.select("c_custkey").collect().map(_.getLong(0)).toSeq)
      expect(s"subIndex($n, $s)", got, data.custOf.getOrElse((n, s), Array.empty[Long]).toSeq)
    case "join" | "except" =>
      kinds += kind
      val keys = Seq.fill(8)(1L + rng.nextInt(data.nCust)).distinct
      val probe = Pipe.takeRows(spark, keys.map(Row(_)), KeySchema)
      if (kind == "join") {
        val got = c.span("operators.Pipe.join")(probe.join(orders, "o_custkey")
          .df.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq)
        expect(s"join(${keys.mkString(",")})", got,
          keys.flatMap(data.ordersOf.getOrElse(_, Array.empty[Long])).sorted)
      } else {
        val got = c.span("operators.Pipe.except")(probe.except(orders, "o_custkey")
          .df.collect().map(_.getLong(0)).sorted.toSeq)
        expect(s"except(${keys.mkString(",")})", got,
          keys.filterNot(data.ordersOf.contains).sorted)
      }
    case "tpch" if { tpchCount += 1; tpchCount % 2 == 1 } =>
      kinds += "q_tpch_q3"
      val got = c.span("SparkEntry.q_tpch_q3")(q3(spark, dir).collect().toSeq
        .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[String]("o_orderdate"),
          r.getAs[Double]("revenue"))))
      expect("q_tpch_q3", got, data.q3)
    case "tpch" =>
      kinds += "q_tpch_q10"
      val got = c.span("SparkEntry.q_tpch_q10")(q10(spark, dir).collect().toSeq
        .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Double]("revenue"))))
      expect("q_tpch_q10", got, data.q10)
  }

  override def report(): Seq[(String, String)] = {
    val spans = Seq("find" -> "operators.Index.find", "subIndex" -> "operators.Index.subIndex",
      "join" -> "operators.Pipe.join", "except" -> "operators.Pipe.except",
      "q_tpch_q3" -> "SparkEntry.q_tpch_q3", "q_tpch_q10" -> "SparkEntry.q_tpch_q10")
    Seq("input" -> s"${data.nCust} customers, ${data.nOrders} orders, ${data.liOrder.length} lineitems",
      "mix (timed)" -> kinds.drop(warmupOps).groupBy(identity)
        .map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(" ")) ++
      spans.flatMap { case (k, s) =>
        val ms = c.tracer.wallMs(s)
        if (ms.isEmpty) None else Some(s"${k}_p50_ms" -> f"${Util.median(ms)}%.2f (n=${ms.size})")
      }
  }
}

/** A long-lived caller of the signature-table store. The timed loop
  * sends 24-document batches through `nearDedupIngest`, each followed
  * by a read-only probe on a freshly opened handle; after the loop one
  * maintenance round (retire, compact, stats) runs and is checked.
  * Traced runs also deduplicate the whole stored corpus in one batch
  * (`nearDedup`, capped `winnowNearDups`) and time the two kernels
  * alone, so the batch-scale dedup layers are measured on this
  * workload too. */
final class DedupIngest(c: Ctx) extends Workload {
  import c.spark
  private val corpus = new Corpus(c.seed, 2500)
  private var corpusDf: DataFrame = _
  private var path: String = _
  // documents a planted near-copy may target (never retired), and the
  // pool retirements draw from (never targeted)
  private val targets = scala.collection.mutable.ArrayBuffer[String]()
  private var retirePool: Iterator[Long] = _
  private var live = 0L
  private val ingestMs, probeMs = scala.collection.mutable.ArrayBuffer[Double]()
  private var maintS = 0.0
  private val Threshold = 0.7

  def prepare(): Unit = {
    val dir = Inputs.cached(c.dataRoot.resolve(s"corpus-n${corpus.ids.length}-s${c.seed}"))(
      corpus.write(spark, _))
    corpusDf = spark.read.parquet(dir.resolve("corpus.parquet").toString)
    (corpus.survivors, corpus.pairs)
  }

  /** Build the signature table from the corpus. */
  def setup(rep: Int): Unit = {
    if (path != null) Util.deleteTree(java.nio.file.Paths.get(path))
    path = c.runDir.resolve(s"sig_$rep").toString
    c.span("operators.Dedup.writeSignatureTable")(
      Dedup.writeSignatureTable(corpusDf, "doc_id", "text", path))
    targets.clear()
    corpus.ids.indices.foreach(i => if (corpus.ids(i) % 7 != 0) targets += corpus.texts(i))
    retirePool = corpus.singles.iterator.filter(_ % 7 == 0)
    live = corpus.ids.length
  }

  val warmupOps = 1

  private def frame(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, Corpus.Schema)

  /** Batch `b`: 6 planted near-copies of stored documents, 3 fresh
    * documents each with a near-copy in the same batch, 12 fresh. */
  def op(b: Int): Op = {
    val r = new SplittableRandom(c.seed * 1000003L + b)
    val base = 10000000L + b * 100L
    val docs = corpus.docs
    val planted = Seq.fill(6)(docs.nearCopy(targets(r.nextInt(targets.size)), r))
    val pairs = Seq.fill(3) { val f = docs.fresh(r); Seq(f, docs.nearCopy(f, r)) }.flatten
    val fresh = Seq.fill(12)(docs.fresh(r))
    val batch = (planted ++ pairs ++ fresh).zipWithIndex.map { case (t, j) => (base + j, t) }
    val admitted = batch.drop(6).zipWithIndex.collect {
      case (d, j) if j >= 6 || j % 2 == 0 => d
    }
    val (got, ingestS) = Util.time(c.span("operators.Dedup.nearDedupIngest") {
      Dedup.nearDedupIngest(spark, path, frame(batch), "doc_id", "text", Threshold)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    })
    ingestMs += ingestS * 1e3
    val errors = expect(s"batch $b admitted", got, admitted.map(_._1).toSet)
    admitted.foreach(d => targets += d._2)
    live += got.size
    // part-file counts of the two relations (the store's layout is
    // <table>/sigs and <table>/buckets)
    c.tracer.gauge("operators.Store.files_sigs", Store.partFileCount(spark, s"$path/sigs").toDouble)
    c.tracer.gauge("operators.Store.files_buckets", Store.partFileCount(spark, s"$path/buckets").toDouble)

    // read-only probe: near-copies of two just-admitted docs are
    // rejected, two fresh docs pass
    val probeBase = 50000000L + b * 100L
    val probeFresh = Seq((probeBase, docs.fresh(r)), (probeBase + 1, docs.fresh(r)))
    val probe = probeFresh ++ admitted.take(2).zipWithIndex.map { case ((_, t), j) =>
      (probeBase + 2 + j, docs.nearCopy(t, r))
    }
    val (passed, probeS) = Util.time {
      val h = c.span("sources.ManifestFileIndex.open")(Dedup.openSignatureTable(spark, path))
      c.span("operators.Dedup.nearDedupIncremental")(
        Dedup.nearDedupIncremental(h, frame(probe), "doc_id", "text", Threshold, Nil)
          .select("doc_id").collect().map(_.getLong(0)).toSet)
    }
    probeMs += probeS * 1e3
    Op(batch.size, errors ++ expect(s"probe $b passed", passed, probeFresh.map(_._1).toSet))
  }

  /** Whole-corpus dedup and the two kernels alone. Winnowing also
    * pairs unrelated documents that happen to share common k-grams, so
    * only recall of the planted pairs is checked there. */
  override def attribute(): Seq[String] = {
    val surv = c.span("operators.Dedup.nearDedup")(
      Dedup.nearDedup(corpusDf, "doc_id", "text", threshold = Threshold)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    val pairs = c.span("operators.Dedup.winnowNearDups")(
      Dedup.winnowNearDups(corpusDf, "doc_id", "text", maxDocsPerGram = 100, dropHotGrams = true)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val n = corpus.ids.length.toDouble
    val (_, mh) = Util.time(c.span("plans.minhash")(c.noop(corpusDf.select(
      Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 64)))))
    c.tracer.gauge("plans.minhash.rows_per_s", n / mh)
    val (_, wn) = Util.time(c.span("plans.winnow")(c.noop(corpusDf.select(
      TextFunctions.winnowFingerprints(col("text"))))))
    c.tracer.gauge("plans.winnow.rows_per_s", n / wn)
    expect("nearDedup survivor count", surv.size, corpus.survivors.size) ++
      expect("nearDedup survivors are the planted-group minima and singles",
        surv == corpus.survivors, true) ++
      expect("planted pairs missing from winnowNearDups", (corpus.pairs -- pairs).size, 0)
  }

  /** One maintenance round: retire three stored documents, compact,
    * and check the live count and orphans after compaction. */
  override def finish(): Seq[String] = {
    val gone = retirePool.take(3).toSeq
    val ((removed, st), s) = Util.time {
      val removed = c.span("operators.Store.retire")(Dedup.retireFromSignatureTable(
        spark, path, spark.createDataFrame(gone.map(Row(_)).asJava,
          StructType(Seq(StructField("doc_id", LongType)))), "doc_id"))
      c.span("operators.Store.compact")(Dedup.compactSignatureTable(spark, path, 4))
      (removed, c.span("operators.Dedup.signatureTableStats")(
        Dedup.signatureTableStats(spark, path).collect().head))
    }
    maintS = s
    live -= removed
    c.tracer.gauge("operators.Store.bytes_per_doc",
      Util.treeBytes(java.nio.file.Paths.get(path)).toDouble / live)
    expect("retired", removed, gone.size.toLong) ++
      expect("live docs after compaction", st.getAs[Long]("n_docs"), live) ++
      expect("orphaned bucket rows after compaction", st.getAs[Long]("orphaned_bucket_rows"), 0L)
  }

  private def p50(xs: Seq[Double]) =
    if (xs.isEmpty) "n/a" else f"${Util.median(xs)}%.1f (n=${xs.size})"

  override def report(): Seq[(String, String)] = Seq(
    "input" -> (s"${corpus.ids.length} stored docs (${corpus.groups.size} planted groups); " +
      "batches of 24: 6 planted near-copies, 3 intra-batch pairs, 12 fresh"),
    "ingest_p50_ms" -> p50(ingestMs.toSeq.drop(warmupOps)),
    "probe_p50_ms" -> p50(probeMs.toSeq.drop(warmupOps)),
    "maint_s" -> f"$maintS%.3f",
    "live_docs" -> live.toString,
    "store_bytes_per_doc" -> c.tracer.gaugeMean("operators.Store.bytes_per_doc")
      .map(v => f"$v%.1f").getOrElse("n/a"))
}
