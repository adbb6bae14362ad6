package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** In-memory spans: one per op, one child per public call the benchmark
  * makes. Off, `apply` only runs the body. Spans are kept until the run
  * ends and are then folded into per-layer self times. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Nanoseconds one empty span costs, measured on `n` throwaway spans. */
  def calibrate(n: Int): Double =
    if (!on) 0.0
    else {
      val keep = spans.size
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { apply("calibrate")(()); i += 1 }
      val per = (System.nanoTime() - t0).toDouble / n
      spans.remove(keep, spans.size - keep)
      per
    }

  /** (span name → (count, total seconds, self seconds)): self time is a
    * span's duration minus its direct children's, plus the Spark job time
    * given by `extraChildNs` per span id (jobs run on other threads). */
  def selfTimes(extraChildNs: Int => Long): Seq[(String, Int, Double, Double)] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.t1 - s.t0)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(s => s.t1 - s.t0).sum
      val self = ss.map(s => s.t1 - s.t0 - childNs(s.id) - extraChildNs(s.id)).sum
      (name, ss.size, total / 1e9, self / 1e9)
    }.sortBy(-_._4)
  }
}

/** Per-call-site Spark work, from the listener bus. A call site is the job
  * group the benchmark sets before each call; planning time comes from a
  * QueryExecutionListener and is charged to `site`, which the benchmark
  * sets around each call and clears only after draining the bus. */
final class SparkStats extends SparkListener with QueryExecutionListener {
  final class Site {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L
    var shuffleBytes = 0L; var inputBytes = 0L
    var planningMs = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms
  }
  private val sites = new ConcurrentHashMap[String, Site]()
  private val stageSite = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile var site: String = "none"

  private def of(s: String): Site = sites.computeIfAbsent(s, _ => new Site)

  def snapshot: Map[String, Site] = synchronized {
    import scala.jdk.CollectionConverters._
    sites.asScala.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    of(g).jobs += 1
    e.stageIds.foreach(stageSite.put(_, g))
    jobStart.put(e.jobId, (g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => of(g).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSite.getOrDefault(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageSite.getOrDefault(e.stageId, "none"))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      of(site).planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
