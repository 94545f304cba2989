package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Local-property keys the harness sets around every call into the
  * program. Jobs inherit them (stream threads too, which copy their
  * parent's properties at start), so the listener can attribute each
  * job, stage and task to the operation and phase that ran it. */
object Labels {
  val Op = "graftbench.op"
  val Phase = "graftbench.phase"

  def set(sc: SparkContext, op: String, phase: String): Unit = {
    sc.setLocalProperty(Op, op)
    sc.setLocalProperty(Phase, phase)
  }

  def clear(sc: SparkContext): Unit = set(sc, null, null)
}

/** Engine counters for one (operation, phase) label. */
final class EngineAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var peakExecMem = 0L

  def add(o: EngineAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_read_mb" -> shuffleRead / 1e6,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "spill_mb" -> spill / 1e6,
    "input_mb" -> input / 1e6, "peak_exec_mem_mb" -> peakExecMem / 1e6)
}

/** The benchmark's SparkListener: aggregates jobs, executed stages and
  * task metrics per (operation label, phase). Stages are mapped to the
  * label of the job that submitted them. */
final class EngineListener extends SparkListener {
  private val stageKey = mutable.Map[Int, (String, String)]()
  private val aggs = mutable.LinkedHashMap[(String, String), EngineAgg]()
  private val unlabelled = ("(unlabelled)", "")

  private def agg(k: (String, String)): EngineAgg =
    aggs.getOrElseUpdate(k, new EngineAgg)

  private def labelOf(props: java.util.Properties): (String, String) =
    Option(props).flatMap(p => Option(p.getProperty(Labels.Op)))
      .map(op => (op, Option(props.getProperty(Labels.Phase)).getOrElse("")))
      .getOrElse(unlabelled)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = labelOf(e.properties)
    agg(k).jobs += 1
    e.stageInfos.foreach(s => stageKey(s.stageId) = k)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageKey.getOrElse(e.stageInfo.stageId, unlabelled)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageKey.getOrElse(e.stageId, unlabelled))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Snapshot of the per-label aggregates; call after draining the bus. */
  def snapshot(): Map[(String, String), EngineAgg] = synchronized {
    aggs.map { case (k, v) => k -> { val c = new EngineAgg; c.add(v); c } }.toMap
  }

  def reset(): Unit = synchronized { aggs.clear(); stageKey.clear() }
}

/** A timed call: seconds since its recorder was made, and the span that
  * was open when it started (-1 for none). */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** Spans around the harness's calls into each layer: name, start, end,
  * parent. Kept in memory and written with the trace. */
final class Spans {
  private val done = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private var next = 0
  private val t0 = System.nanoTime()

  private def now: Double = (System.nanoTime() - t0) / 1e9

  def apply[A](name: String)(f: => A): A = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    val start = now
    open.push(id)
    try f
    finally {
      open.pop()
      done += Span(id, parent, name, start, now)
    }
  }

  def toSeq: Seq[Map[String, Any]] = done.sortBy(_.id).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> s.start, "end_s" -> s.end)).toSeq
}
