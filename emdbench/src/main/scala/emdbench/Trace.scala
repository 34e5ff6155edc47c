package emdbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span has a name, a start,
  * an end and the span that was open when it began; spans are written out
  * once, when the run ends. A disabled tracer runs the body and records
  * nothing, so the untraced run pays only a branch per call. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  // Spark reports job times in epoch milliseconds; this maps them onto
  // the nanoTime axis the harness spans use.
  private val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def current: Int = synchronized(open.headOption.getOrElse(-1))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId; nextId += 1
        val p = open.headOption.getOrElse(-1)
        open = id :: open
        (id, p)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          spans += Span(id, name, parent, t0, t1)
          open = open.filterNot(_ == id)
        }
      }
    }

  /** A span whose bounds come from Spark (a job), in epoch milliseconds. */
  def external(name: String, parent: Int, startMs: Long, endMs: Long): Unit =
    if (enabled) synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, name, parent, startMs * 1000000L + epochToNano,
        endMs * 1000000L + epochToNano)
    }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes: Seq[(Span, Double)] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.sortBy(_.startNs).map { s =>
      val covered = Tracer.unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).toSeq)
      (s, math.max(0L, s.endNs - s.startNs - covered) / 1e9)
    }
  }

  /** Self time summed by span name (jobs folded into one "spark.job"). */
  def selfByName: Seq[(String, Double)] =
    selfTimes.groupBy(_._1.name.takeWhile(_ != '#')).view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(-_._2)

  def toJson: String = Json.arr(selfTimes.map { case (s, self) =>
    Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString,
      "start_s" -> Json.num((s.startNs - spansOrigin) / 1e9),
      "end_s" -> Json.num((s.endNs - spansOrigin) / 1e9),
      "self_s" -> Json.num(self)))
  })

  private def spansOrigin: Long =
    if (spans.isEmpty) 0L else spans.map(_.startNs).min
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  /** Length of the union of [start, end) intervals, in the input's unit. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE == Long.MinValue || s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }
}

/** Spark runtime counters for one op, gathered by [[OpListener]]. */
final case class OpStats(
    wallS: Double, jobs: Int, tasks: Int, executorRunS: Double,
    executorCpuS: Double, gcS: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double, spillMb: Double, taskSkew: Double, jobUnionS: Double) {
  def driverS: Double = math.max(0.0, wallS - jobUnionS)
  def coreBusyFrac(cores: Int): Double = executorRunS / (wallS * cores)
}

/** Listener registered around the traced run's ops. It records only while
  * armed, and reports each Spark job to the tracer as a child span of the
  * op that was open when the job started. */
final class OpListener(sc: SparkContext, tracer: Tracer) extends SparkListener {
  import OpListener.TaskRec

  @volatile private var armed = false
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (armed) jobStarts.put(e.jobId, (e.time, tracer.current))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (armed && s != null) synchronized {
      jobs += ((s._1, e.time))
      tracer.external(s"spark.job#${e.jobId}", s._2, s._1, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (armed && m != null) synchronized {
      tasks += TaskRec((e.stageId, e.stageAttemptId), m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, e.taskInfo.duration)
    }
  }

  /** Run `op` armed and return its counters with its wall time. */
  def measure[T](op: => T): (T, OpStats) = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    synchronized { jobs.clear(); tasks.clear() }
    armed = true
    val t0 = System.nanoTime()
    var t1 = 0L
    val out = try { val r = op; t1 = System.nanoTime(); r } finally {
      org.apache.spark.BenchBridge.drainListeners(sc)
      armed = false
    }
    val wall = (t1 - t0) / 1e9
    // the drain above makes every job end and task end of the op visible
    val stats = synchronized {
      val byStage = tasks.groupBy(_.stage)
      val heaviest = if (byStage.isEmpty) Seq.empty[TaskRec]
        else byStage.values.maxBy(_.map(_.runMs).sum).toSeq
      val skew = if (heaviest.isEmpty) 1.0 else {
        val d = heaviest.map(_.durMs.toDouble).sorted
        d.last / math.max(1.0, d(d.length / 2))
      }
      val mb = 1024.0 * 1024.0
      OpStats(wall, jobs.size, tasks.size, tasks.map(_.runMs).sum / 1e3,
        tasks.map(_.cpuNs).sum / 1e9, tasks.map(_.gcMs).sum / 1e3,
        tasks.map(_.shWrite).sum / mb, tasks.map(_.shRead).sum / mb,
        tasks.map(_.spill).sum / mb, skew,
        Tracer.unionLength(jobs.toSeq) / 1e3)
    }
    (out, stats)
  }
}

object OpListener {
  private final case class TaskRec(stage: (Int, Int), runMs: Long, cpuNs: Long,
      gcMs: Long, shWrite: Long, shRead: Long, spill: Long, durMs: Long)
}
