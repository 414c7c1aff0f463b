package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run: one workload, one seed, one closed loop.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  *      [--cores <n>] [--commit <id>] [--source-hash <hash>]
  * }}}
  *
  * A single driver thread sends the next operation only after the
  * previous one returned, on `local[<cores>]`. The human-readable
  * report goes to stderr; the last stdout line is one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`. With tracing off the
  * metrics are the end-to-end ones; with tracing on they are the
  * per-layer ones of [[Layers]].
  */
object Main {
  /** Set-up builds per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** A timed window runs at least this many operations, so a workload
    * whose operations take about as long as the window always reports
    * the median of the same number of samples. */
  val MinTimedOps = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: Path, cores: Int, commit: String, sourceHash: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t") },
      Paths.get(need("root")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("commit", "unknown"),
      m.getOrElse("source-hash", "unknown"))
  }

  /** Outcome of one timed loop. */
  final case class Loop(attempted: Int, failed: Int, rows: Long, elapsedS: Double,
                        latMs: Seq[Double]) {
    def rowsPerS: Double = rows / elapsedS
    def p50Ms: Double = Util.median(latMs)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.seconds >= 1, "--seconds must be >= 1")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a.cores
    val work = a.root.resolve(".bench_work")
    val runDir = work.resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def log(s: String): Unit = System.err.println(
      f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $s")
    try {
      val conf = spark.conf
      log(s"stamp workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
        s"master=${spark.sparkContext.master} cores=$cores " +
        s"shuffle.partitions=${conf.get("spark.sql.shuffle.partitions")} " +
        s"aqe=${conf.get("spark.sql.adaptive.enabled")} spark=${spark.version} " +
        s"heap_mb=${Runtime.getRuntime.maxMemory / (1 << 20)} commit=${a.commit} source=${a.sourceHash}")

      val ctx = new Ctx(spark, a.seed, work.resolve("data"), runDir)
      val w = Workloads(a.workload, ctx)
      val (_, prepS) = Util.time(w.prepare())
      log(f"inputs ready in $prepS%.2f s (not part of setup_s)")

      // set-up: traced in a traced run, so its layers report too
      val setupTracer = new Tracer(spark, enabled = a.trace)
      ctx.tracer = setupTracer
      val setupS = (0 until SetupReps).map(k => Util.time(w.setup(k))._2)
      val (warm, warmS) = Util.time(runOps(w, (0 until w.warmupOps).iterator, log))
      setupTracer.drain(); setupTracer.close()
      val setupTotal = sessionS + warmS + Util.median(setupS)
      log(f"setup_s $setupTotal%.4f = session $sessionS%.3f + warm-up $warmS%.3f + median of builds " +
        setupS.map(s => f"$s%.3f").mkString("[", ", ", "]"))
      // after warm-up, so the probe times warm code right before the loop
      val calibS = calibrate(spark)
      log(f"host.calib_s $calibS%.4f")

      // a traced run measures half its window untraced, then half traced,
      // so it can state its own tracing overhead
      val phases =
        if (a.trace) Seq(false -> a.seconds / 2.0, true -> a.seconds / 2.0)
        else Seq(false -> a.seconds.toDouble)
      var next = w.warmupOps
      val loops = phases.map { case (traced, secs) =>
        ctx.tracer = new Tracer(spark, enabled = traced)
        val l = runOps(w, Iterator.from(next), log, (s, n) => s < secs || n < MinTimedOps)
        next += l.attempted
        traced -> l
      }
      val errors = scala.collection.mutable.ArrayBuffer[String]()
      if (a.trace) errors ++= w.attribute()
      errors ++= w.finish()
      errors.foreach(e => log(s"WRONG $e"))
      ctx.tracer.drain()

      val sc = spark.sparkContext
      val cachedRdds = sc.getPersistentRDDs.size
      val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      ctx.tracer.gauge("cache.rdds_end", cachedRdds)
      ctx.tracer.gauge("cache.mb_end", cachedMb)
      ctx.tracer.gauge("host.calib_s", calibS)
      val rss = Util.peakRssMb()

      val main = loops.last._2
      // the end-of-run checks count as one more operation
      val attempted = warm.attempted + loops.map(_._2.attempted).sum + 1
      val failed = warm.failed + loops.map(_._2.failed).sum + (if (errors.nonEmpty) 1 else 0)
      log(s"report ${a.workload}:")
      def line(k: String, v: String): Unit = log(f"  $k%-22s $v")
      line("rows_per_s", f"${main.rowsPerS}%.2f rows/s (${main.rows} rows in ${main.elapsedS}%.3f s)")
      line("op_p50_ms", f"${main.p50Ms}%.3f ms (n=${main.latMs.size})")
      Util.tail(main.latMs) match {
        case Some((p, v)) => line("op_tail_ms", f"p$p = $v%.3f ms (n=${main.latMs.size}, ${main.latMs.size - math.ceil(p / 100.0 * main.latMs.size).toInt} above)")
        case None => line("op_tail_ms", s"n/a (${main.latMs.size} ops; a tail needs 11)")
      }
      line("setup_s", f"$setupTotal%.4f s")
      line("peak_rss_mb", f"$rss%.1f MB")
      line("failed_frac", f"${failed.toDouble / attempted}%.4f ($failed of $attempted)")
      line("cache_end", f"$cachedRdds rdds, $cachedMb%.2f MB")
      w.report().foreach { case (k, v) => line(k, v) }

      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) Seq(
          ("setup_s", setupTotal, "s"),
          ("rows_per_s", main.rowsPerS, "rows/s"),
          ("op_p50_ms", main.p50Ms, "ms"))
        else {
          val untraced = loops.head._2
          log(f"tracing overhead: op_p50_ms ${main.p50Ms - untraced.p50Ms}%+.3f ms " +
            f"(${untraced.p50Ms}%.3f untraced -> ${main.p50Ms}%.3f traced), rows_per_s " +
            f"${main.rowsPerS - untraced.rowsPerS}%+.2f (${untraced.rowsPerS}%.2f -> ${main.rowsPerS}%.2f)")
          val layers = Layers.values(Seq(ctx.tracer, setupTracer))
          Layers.logTable(Seq(ctx.tracer, setupTracer), log)
          Layers.logPredictions(ctx.tracer, cores, log)
          layers
        }
      println(Layers.json(failed == 0, attempted, failed, metrics))
    } finally {
      spark.stop()
      Util.deleteTree(runDir)
    }
  }

  /** Fixed pure-CPU probe (the same codegen'd xxhash64 + sum as the
    * library's own bench calibration, on a smaller range): the
    * host-noise witness of this run. */
  def calibrate(spark: SparkSession): Double = {
    def once() = Util.time(spark.range(0L, 16L << 20, 1L, 32)
      .select(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFL))))
      .write.mode("overwrite").format("noop").save())._2
    once() // warm-up
    Util.median(Seq.fill(3)(once()))
  }

  /** Run operations `ids` back to back (a closed loop with one
    * client); `more(elapsed seconds, operations done)` decides after
    * each whether to go on. */
  def runOps(w: Workload, ids: Iterator[Int], log: String => Unit,
             more: (Double, Int) => Boolean = (_, _) => true): Loop = {
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    var (failed, rows) = (0, 0L)
    val t0 = System.nanoTime()
    var end = t0
    while (ids.hasNext && more((end - t0) / 1e9, lat.size)) {
      val i = ids.next()
      val s = System.nanoTime()
      val errors =
        try { val o = w.op(i); rows += o.rows; o.errors }
        catch { case e: Exception => Seq(s"op $i threw ${e.getClass.getName}: ${e.getMessage}") }
      end = System.nanoTime()
      lat += (end - s) / 1e6
      log(f"op $i: ${lat.last}%.1f ms")
      if (errors.nonEmpty) { failed += 1; errors.foreach(e => log(s"WRONG $e")) }
    }
    Loop(lat.size, failed, rows, (end - t0) / 1e9, lat.toSeq)
  }
}
