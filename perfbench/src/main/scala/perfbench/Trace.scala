package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, inside operation `op`. Times are
  * `System.nanoTime` readings; `parent` is the enclosing layer ("" for
  * the operation's root span). */
final case class Span(op: Int, layer: String, startNs: Long, endNs: Long,
    parent: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work one operation caused, summed from the listener events of
  * the jobs that carried the operation's id. Times are seconds, sizes MB. */
final case class ExecCounts(jobs: Int, stages: Int, tasks: Long,
    runS: Double, cpuS: Double, gcS: Double, schedDelayS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    maxSkew: Double, jobIntervalsMs: Seq[(Long, Long)])

/** The traced run's recorder: spans kept in memory per operation, and a
  * SparkListener that attributes jobs, stages and tasks to the operation
  * whose thread submitted them (through a local property). Attached only
  * while tracing is on, so an untraced run pays nothing for it. */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile private var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }

  private final class StageAgg(val op: Int) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedMs = 0L; var shR = 0L; var shW = 0L; var spill = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  private val jobOp = TrieMap.empty[Int, Int]
  private val jobStart = TrieMap.empty[Int, Long]
  private val jobEnd = TrieMap.empty[Int, Long]
  private val stageOp = TrieMap.empty[Int, Int]
  private val stageAggs = TrieMap.empty[(Int, Int), StageAgg]

  def enabled: Boolean = on

  def start(): Unit = if (!on) { sc.addSparkListener(this); on = true }

  def stop(): Unit = if (on) {
    org.apache.spark.GraftSparkBridge.waitForListeners(sc)
    sc.removeSparkListener(this); on = false
  }

  /** Run `f` as the root span of operation `op`; jobs it submits carry
    * the operation id. */
  def op[A](op: Int, layer: String)(f: => A): A = {
    sc.setLocalProperty(Tracer.OpKey, op.toString)
    current.set(List(op -> layer))
    val t0 = System.nanoTime()
    try f
    finally {
      if (on) spans.add(Span(op, layer, t0, System.nanoTime(), ""))
      current.set(Nil)
      sc.setLocalProperty(Tracer.OpKey, null)
    }
  }

  /** Time a call into `layer` nested in the current operation. */
  def span[A](layer: String)(f: => A): A = current.get match {
    case Nil => f
    case stack @ ((opId, parent) :: _) =>
      current.set((opId, layer) :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        if (on) spans.add(Span(opId, layer, t0, System.nanoTime(), parent))
        current.set(stack)
      }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .foreach { o =>
        val op = o.toInt
        jobOp.put(e.jobId, op); jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageOp.put(s, op))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobOp.contains(e.jobId)) jobEnd.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).foreach { op =>
      val m = e.taskMetrics
      val agg = stageAggs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageAgg(op))
      agg.synchronized {
        agg.tasks += 1
        if (m != null) {
          agg.runMs += m.executorRunTime
          agg.cpuNs += m.executorCpuTime
          agg.gcMs += m.jvmGCTime
          agg.shR += m.shuffleReadMetrics.totalBytesRead
          agg.shW += m.shuffleWriteMetrics.bytesWritten
          agg.spill += m.diskBytesSpilled
          // scheduler delay: task wall time not spent deserializing,
          // running, serializing the result or shipping it
          val busy = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime
          agg.schedMs += math.max(0L, e.taskInfo.duration - busy -
            (if (e.taskInfo.gettingResult)
              e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
          agg.durations += m.executorRunTime
        }
      }
    }

  /** Per-operation Spark work; call after the listener bus drained. */
  def execByOp(): Map[Int, ExecCounts] = {
    org.apache.spark.GraftSparkBridge.waitForListeners(sc)
    val byOp = stageAggs.values.groupBy(_.op)
    val jobsByOp = jobOp.toSeq.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    (byOp.keySet ++ jobsByOp.keySet).map { op =>
      val st = byOp.getOrElse(op, Nil).toSeq
      def sumL(f: StageAgg => Long): Long = st.map(f).sum
      val skews = st.filter(_.durations.size >= 2).map { s =>
        val d = s.durations.toSeq.sorted
        val med = Stats.percentile(d.map(_.toDouble), 0.5)
        if (med <= 0) 1.0 else d.last / med
      }
      val jobs = jobsByOp.getOrElse(op, Nil)
      val intervals = jobs.flatMap(j =>
        for (s <- jobStart.get(j); en <- jobEnd.get(j)) yield (s, en))
      op -> ExecCounts(jobs.size, st.size, sumL(_.tasks),
        sumL(_.runMs) / 1e3, sumL(_.cpuNs) / 1e9, sumL(_.gcMs) / 1e3,
        sumL(_.schedMs) / 1e3, sumL(_.shR) / 1048576.0,
        sumL(_.shW) / 1048576.0, sumL(_.spill) / 1048576.0,
        if (skews.isEmpty) 1.0 else skews.max, intervals)
    }.toMap
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }
}
