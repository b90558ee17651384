package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval: `layer` is the engine module the wrapped call
  * belongs to, `op` the operation it serves (spans of one operation
  * share it), times in nanoseconds. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    op: String, start: Long, end: Long)

/** In-memory span recorder, written out when the run ends. Disabled, it
  * only runs the body. The harness calls the engine from one thread,
  * so the open-span stack is a plain list. */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 0L

  def span[T](name: String, layer: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, layer, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time summed per layer over the spans `keep` selects, seconds. */
  def selfByLayer(keep: Span => Boolean): Map[String, Double] = {
    val self = Stats.selfTimes(spans.toSeq)
    spans.filter(keep).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e9
    }
  }
}

/** Task metrics summed over a set of jobs. */
final case class ExecAgg(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double, inputMb: Double,
    inputRows: Long, outputMb: Double, taskSkew: Double)

/** Always-on SparkListener: per job its group, submit time and
  * stages; per stage its summed task metrics and task durations. Task
  * metrics are attributed to spans through the job group the benchmark
  * sets around each call. Reads happen after the listener bus drains. */
final class Meter extends SparkListener {
  final class Job(val group: String, val submitMs: Long, val stages: Seq[Int])
  final class Stage {
    var tasks = 0
    var cpuNs = 0L
    var shufW = 0L
    var shufR = 0L
    var spill = 0L
    var inBytes = 0L
    var inRows = 0L
    var outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(g, e.time, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new Stage)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.shufW += m.shuffleWriteMetrics.bytesWritten
      s.shufR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.durations += e.taskInfo.duration
    }
  }

  /** Aggregate the jobs `keep` selects (by group and submit time, ms). */
  def agg(keep: (String, Long) => Boolean): ExecAgg = synchronized {
    val js = jobs.values.filter(j => keep(j.group, j.submitMs)).toSeq
    // a stage can belong to several jobs (skipped reuse); count it once
    val ss = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val mb = 1024.0 * 1024.0
    val skews = ss.filter(_.durations.size >= 2).map { s =>
      val med = Stats.median(s.durations.map(_.toDouble).toSeq)
      s.durations.max / math.max(med, 1.0)
    }
    ExecAgg(js.size, ss.size, ss.map(_.tasks).sum,
      ss.map(_.cpuNs).sum / 1e9, ss.map(_.shufW).sum / mb, ss.map(_.shufR).sum / mb,
      ss.map(_.spill).sum / mb, ss.map(_.inBytes).sum / mb,
      ss.map(_.inRows).sum, ss.map(_.outBytes).sum / mb,
      if (skews.isEmpty) 1.0 else Stats.median(skews))
  }
}
