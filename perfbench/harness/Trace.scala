package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One timed interval: a run, a setup step, a pass, an operation or
  * one phase of an operation. `attrs` carries the listener counts and
  * scan metrics of the operation it belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, phase: String,
    pass: Int, startNs: Long, endNs: Long,
    attrs: scala.collection.mutable.Map[String, Double])

/** Spans kept in memory and written as JSON lines when the run ends.
  * With tracing off nothing is recorded; the timers the metrics use
  * run either way.
  */
final class Tracer(val on: Boolean, runId: String, workload: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()

  def open(parent: Int, name: String, phase: String, pass: Int): Int =
    if (!on) -1 else synchronized {
      spans += Span(spans.size, parent, name, phase, pass,
        System.nanoTime() - t0, -1L, scala.collection.mutable.Map.empty)
      spans.size - 1
    }

  def close(id: Int): Unit = if (on) synchronized {
    spans(id) = spans(id).copy(endNs = System.nanoTime() - t0)
  }

  def attr(id: Int, k: String, v: Double): Unit =
    if (on) synchronized { spans(id).attrs(k) = spans(id).attrs.getOrElse(k, 0.0) + v }

  def write(path: String): Unit = if (on) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(",")
      w.println(s"""{"run":${Json.str(runId)},"workload":${Json.str(workload)},""" +
        s""""id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""phase":${Json.str(s.phase)},"pass":${s.pass},""" +
        s""""start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000},""" +
        s""""attrs":{$attrs}}""")
    } finally w.close()
  }
}

/** Job, task and shuffle counts per (operation, phase), keyed by the
  * local properties the harness sets before each call into the engine.
  */
final class Counts extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val byKey = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()

  private def add(key: String, k: String, v: Double): Unit =
    byKey.computeIfAbsent(key, _ => new ConcurrentHashMap[String, Double]())
      .merge(k, v, (a: Double, b: Double) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val key = p.flatMap(x => Option(x.getProperty("perfbench.op"))).getOrElse("-") +
      "/" + p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("-")
    e.stageIds.foreach(s => stageKey.put(s, key))
    add(key, "jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = Option(stageKey.get(e.stageId)).getOrElse("-/-")
    val m = e.taskMetrics
    add(key, "tasks", 1)
    if (m != null) {
      add(key, "task_s", m.executorRunTime / 1e3)
      add(key, "task_cpu_s", m.executorCpuTime / 1e9)
      add(key, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(key, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  def take(key: String): Map[String, Double] =
    Option(byKey.remove(key)).map(_.asScala.toMap).getOrElse(Map.empty)
}

object ScanMetrics {
  private val names = Seq("cells_read", "winners_emitted", "merge_fan_in")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** The connector's custom SQL metrics summed over every scan node of
    * an executed plan, plus the scans' input partition count. */
  def of(plan: SparkPlan): Map[String, Double] = {
    val scans = nodes(plan).collect { case b: BatchScanExec => b }
    val sums = names.map { n =>
      n -> scans.flatMap(_.metrics.get(n)).map(_.value.toDouble).sum
    }
    (sums :+ ("input_partitions" ->
      scans.map(_.inputPartitions.size.toDouble).sum)).toMap
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
