package perfbench

/** The per-layer metrics of a traced run, named `<module>.<call>.<m>`.
  * Span counters are per-call means over the traced window; a span a
  * workload never calls reads 0. The list must stay equal to
  * `per_layer` in BENCHMARK.json (the runner checks). */
object Layers {
  private val spans: Seq[(String, Seq[String])] = Seq(
    "sources.CsvSource.read" -> Seq("wall_s", "jobs"),
    "sources.CsvSource.scan" -> Seq("wall_s", "exec_cpu_s", "input_mb"),
    "operators.Index.uniqueIndexOn" -> Seq("wall_s", "jobs"),
    "operators.Pipe.join" -> Seq("wall_s", "driver_s", "jobs", "tasks"),
    "operators.Index.build" -> Seq("wall_s", "jobs", "shuffle_mb"),
    "operators.Pipe.toCsv" -> Seq("wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s",
      "shuffle_mb", "spill_mb", "output_mb"),
    "operators.Index.writeTo" -> Seq("wall_s", "jobs", "output_mb"),
    "operators.Index.find" -> Seq("wall_s", "driver_s", "jobs", "tasks"),
    "operators.Index.subIndex" -> Seq("wall_s", "driver_s", "jobs", "tasks"),
    "operators.Pipe.except" -> Seq("wall_s", "driver_s", "jobs", "tasks"),
    "SparkEntry.q_tpch_q3" -> Seq("wall_s", "driver_s", "jobs", "shuffle_mb"),
    "SparkEntry.q_tpch_q10" -> Seq("wall_s", "driver_s", "jobs", "shuffle_mb"),
    "operators.Dedup.writeSignatureTable" -> Seq("wall_s", "jobs", "exec_cpu_s", "output_mb"),
    "operators.Dedup.nearDedupIngest" -> Seq("wall_s", "driver_s", "jobs", "tasks",
      "input_mb", "output_mb"),
    "sources.ManifestFileIndex.open" -> Seq("wall_s", "jobs"),
    "operators.Dedup.nearDedupIncremental" -> Seq("wall_s", "driver_s", "jobs", "input_mb"),
    "operators.Store.retire" -> Seq("wall_s", "jobs", "output_mb"),
    "operators.Store.compact" -> Seq("wall_s", "jobs", "output_mb"),
    "operators.Dedup.signatureTableStats" -> Seq("wall_s", "jobs"),
    "operators.Dedup.nearDedup" -> Seq("wall_s", "driver_s", "jobs", "exec_cpu_s",
      "shuffle_mb", "spill_mb"),
    "operators.Dedup.winnowNearDups" -> Seq("wall_s", "jobs", "exec_cpu_s", "shuffle_mb"),
    "plans.minhash" -> Seq("wall_s", "exec_cpu_s"),
    "plans.winnow" -> Seq("wall_s", "exec_cpu_s"))

  private val gauges: Seq[String] = Seq(
    "operators.Store.files_sigs", "operators.Store.files_buckets",
    "operators.Store.bytes_per_doc", "plans.minhash.rows_per_s",
    "plans.winnow.rows_per_s", "cache.rdds_end", "cache.mb_end", "host.calib_s")

  private def unit(m: String): String = m match {
    case "wall_s" | "driver_s" | "exec_cpu_s" | "host.calib_s" => "s"
    case "jobs" | "tasks" | "cache.rdds_end" => "count"
    case "operators.Store.files_sigs" | "operators.Store.files_buckets" => "files"
    case "operators.Store.bytes_per_doc" => "B/doc"
    case "plans.minhash.rows_per_s" | "plans.winnow.rows_per_s" => "rows/s"
    case _ => "MB"
  }

  /** Values from the first tracer that saw each span or gauge. */
  def values(tracers: Seq[Tracer]): Seq[(String, Double, String)] =
    spans.flatMap { case (s, ms) =>
      val pc = tracers.iterator.map(_.perCall(s)).find(_.nonEmpty).getOrElse(Map.empty)
      ms.map(m => (s"$s.$m", pc.getOrElse(m, 0.0), unit(m)))
    } ++ gauges.map(g =>
      (g, tracers.iterator.flatMap(_.gaugeMean(g)).nextOption().getOrElse(0.0), unit(g)))

  /** Every span the run recorded, whether or not it is a listed metric. */
  def logTable(tracers: Seq[Tracer], log: String => Unit): Unit = {
    val cols = Seq("calls", "wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s",
      "shuffle_mb", "spill_mb", "input_mb", "output_mb")
    log("per-call span counters: " + cols.mkString(" "))
    tracers.flatMap(t => t.spanNames.map(n => n -> t.perCall(n))).distinctBy(_._1)
      .foreach { case (n, pc) =>
        log(f"  $n%-38s " + cols.map(c => f"${pc(c)}%.4f").mkString(" "))
      }
  }

  /** What each span's time was predicted to be spent on: the driver
    * and job scheduling (tiny requests and store round trips) or
    * executor compute and shuffle (data-sized passes and kernels). */
  private val predicted: Seq[(String, String)] = Seq(
    "operators.Pipe.toCsv" -> "executor-bound",
    "operators.Index.find" -> "driver/scheduler-bound",
    "operators.Index.subIndex" -> "driver/scheduler-bound",
    "operators.Pipe.join" -> "driver/scheduler-bound",
    "operators.Pipe.except" -> "driver/scheduler-bound",
    "SparkEntry.q_tpch_q3" -> "driver/scheduler-bound",
    "SparkEntry.q_tpch_q10" -> "driver/scheduler-bound",
    "operators.Dedup.nearDedupIngest" -> "driver/scheduler-bound",
    "operators.Dedup.nearDedupIncremental" -> "driver/scheduler-bound",
    "operators.Dedup.nearDedup" -> "executor-bound",
    "operators.Dedup.winnowNearDups" -> "executor-bound",
    "plans.minhash" -> "executor-bound",
    "plans.winnow" -> "executor-bound")

  /** Classify each predicted span the traced window ran by executor
    * utilisation (executor CPU over wall x cores) and say whether the
    * prediction held. */
  def logPredictions(t: Tracer, cores: Int, log: String => Unit): Unit = {
    predicted.foreach { case (n, want) =>
      val pc = t.perCall(n)
      if (pc.nonEmpty) {
        val util = pc("exec_cpu_s") / (pc("wall_s") * cores)
        val kind = if (util < 0.25) "driver/scheduler-bound"
          else if (util > 0.5) "executor-bound" else "mixed"
        log(f"prediction $n: executor utilisation $util%.2f, driver share " +
          f"${pc("driver_s") / pc("wall_s")}%.2f, ${pc("jobs")}%.1f jobs/call -> $kind; " +
          s"predicted $want: ${if (kind == want) "MATCH" else "MISMATCH"}")
      }
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v")
    else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
