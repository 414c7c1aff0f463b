package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Spans around calls into the library's modules.
  *
  * Every span records its wall time per call, with or without tracing,
  * so the end-to-end report can quote per-call latencies. With tracing
  * on, each span also sets its own Spark job group and a listener
  * attributes jobs, tasks, executor CPU and bytes to that group. A
  * span's counters are its SELF counters: a nested span runs under its
  * own group, so its jobs are not counted again in the parent.
  *
  * Everything is kept in memory and read once, after the run.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  private final class Frame(val name: String) { var childNs = 0L }

  /** Per-call samples of one span: wall and wall minus child spans. */
  final class Calls {
    val wallNs = mutable.ArrayBuffer[Long]()
    var selfNs = 0L
  }

  private val calls = mutable.LinkedHashMap[String, Calls]()
  private var stack = List.empty[Frame]
  private val gauges = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val listener = new GroupListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val frame = new Frame(name)
    if (enabled) sc.setJobGroup(name, name, interruptOnCancel = false)
    stack = frame :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      stack = stack.tail
      stack.headOption.foreach(_.childNs += dt)
      if (enabled) stack.headOption match {
        case Some(p) => sc.setJobGroup(p.name, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      val c = calls.getOrElseUpdate(name, new Calls)
      c.wallNs += dt
      c.selfNs += dt - frame.childNs
    }
  }

  /** A sampled value that is not a time span (file counts, cache size). */
  def gauge(name: String, v: Double): Unit =
    gauges.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  def wallMs(name: String): Seq[Double] =
    calls.get(name).map(_.wallNs.map(_ / 1e6).toSeq).getOrElse(Nil)

  def spanNames: Seq[String] = calls.keys.toSeq

  /** Per-call means of every counter of `name`, keyed by counter name;
    * empty when the span never ran. */
  def perCall(name: String): Map[String, Double] = calls.get(name) match {
    case None => Map.empty
    case Some(c) =>
      val n = c.wallNs.size.toDouble
      val a = listener.acc.getOrElse(name, new listener.Acc)
      val jobNs = a.jobUnionMs * 1e6
      val mb = 1024.0 * 1024.0
      Map(
        "calls" -> n,
        "wall_s" -> c.wallNs.sum / 1e9 / n,
        "driver_s" -> math.max(0.0, (c.selfNs - jobNs) / 1e9 / n),
        "jobs" -> a.jobs / n,
        "tasks" -> a.tasks / n,
        "exec_cpu_s" -> a.cpuNs / 1e9 / n,
        "shuffle_mb" -> a.shuffleBytes / mb / n,
        "spill_mb" -> a.spillBytes / mb / n,
        "input_mb" -> a.inBytes / mb / n,
        "output_mb" -> a.outBytes / mb / n)
  }

  def gaugeMean(name: String): Option[Double] =
    gauges.get(name).filter(_.nonEmpty).map(g => g.sum / g.size)

  /** Wait for every posted listener event before reading counters. */
  def drain(): Unit =
    if (enabled) org.apache.spark.BenchShim.drainListeners(spark.sparkContext)

  def close(): Unit =
    if (enabled) spark.sparkContext.removeSparkListener(listener)

  /** Attributes jobs, stages and tasks to the job group that was set
    * when the job was submitted. Runs on the listener-bus thread; the
    * maps are read only after [[drain]]. */
  private final class GroupListener extends SparkListener {
    final class Acc {
      var jobs = 0L; var tasks = 0L; var cpuNs = 0L
      var shuffleBytes = 0L; var spillBytes = 0L
      var inBytes = 0L; var outBytes = 0L
      val intervals = mutable.ArrayBuffer[(Long, Long)]()
      /** Time covered by at least one of the group's jobs. */
      def jobUnionMs: Long = {
        var total = 0L; var end = Long.MinValue
        intervals.sortBy(_._1).foreach { case (s, e) =>
          if (e > end) { total += e - math.max(s, end); end = e }
        }
        total
      }
    }
    val acc = mutable.HashMap[String, Acc]()
    private val jobGroup = mutable.HashMap[Int, (String, Long)]()
    private val stageGroup = mutable.HashMap[Int, String]()

    private def accOf(g: String) = acc.getOrElseUpdate(g, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("(none)")
      jobGroup(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
      accOf(g).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobGroup.remove(e.jobId).foreach { case (g, t0) =>
        accOf(g).intervals += ((t0, e.time))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = accOf(stageGroup.getOrElse(e.stageId, "(none)"))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
