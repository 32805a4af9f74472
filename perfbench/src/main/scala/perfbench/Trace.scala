package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced public call: its span name, wall interval (epoch ms, the
  * clock the scheduler stamps job events with), the intervals of the
  * Spark jobs it issued and the task counters of their stages. Counters
  * are written only by the listener-bus thread and read after the
  * session has stopped. */
final class Call(val span: String, val id: Int) {
  @volatile var startMs = 0L
  @volatile var endMs = 0L
  val jobs = new ConcurrentHashMap[Int, Array[Long]]() // jobId -> [start, end]
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
}

/** The tracing spine: `span(name) { … }` names the calling thread's Spark
  * jobs through a local property (broadcast builds and AQE stage jobs
  * inherit it), and the listener folds job, stage and task metrics into
  * the span's [[Call]]. Everything stays in memory until the run ends.
  * When `active` is false a span is a plain call, so untraced work pays
  * nothing for it. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  @volatile var active = false
  val calls = ArrayBuffer[Call]()
  private val byId = new ConcurrentHashMap[Int, Call]()
  private val stageCall = new ConcurrentHashMap[Int, Call]()
  private val jobCall = new ConcurrentHashMap[Int, Call]()
  /** Jobs that carried no span: (job start ms, call site). */
  val unspanned = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  /** Intervals during which every job is expected to carry a span. */
  val windows = ArrayBuffer[(Long, Long)]()

  def span[T](name: String)(body: => T): T = {
    if (!active) return body
    val c = new Call(name, calls.size)
    calls += c
    byId.put(c.id, c)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, c.id.toString)
    c.startMs = System.currentTimeMillis()
    try body
    finally {
      c.endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Runs `body` as a traced window: jobs without a span inside it are
    * counted as unattributed. */
  def window[T](body: => T): T = {
    if (!active) return body
    val s = System.currentTimeMillis()
    try body finally windows += ((s, System.currentTimeMillis()))
  }

  /** Runs `body` untraced: its jobs belong to no span and are not
    * counted as unattributed (the benchmark's own checks). */
  def excluded[T](body: => T): T = {
    if (!active) return body
    active = false
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, Excluded)
    try body finally {
      sc.setLocalProperty(SpanKey, prev)
      active = true
    }
  }

  /** Call sites of unspanned jobs that started inside a traced window. */
  def unattributed: Seq[String] = {
    import scala.jdk.CollectionConverters._
    unspanned.asScala.toSeq.collect {
      case (t, site) if windows.exists { case (a, b) => t >= a && t <= b } =>
        site
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanKey))) match {
      case Some(Excluded) =>
      case Some(id) =>
        val c = byId.get(id.toInt)
        if (c != null) {
          c.jobs.put(e.jobId, Array(e.time, e.time))
          jobCall.put(e.jobId, c)
          e.stageIds.foreach(s => stageCall.put(s, c))
        }
      case None =>
        val site = props.flatMap(p =>
          Option(p.getProperty("callSite.short"))).getOrElse("?")
        unspanned.add((e.time, site))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = jobCall.get(e.jobId)
    if (c != null) c.jobs.get(e.jobId)(1) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageCall.get(e.stageId)
    if (c != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Excluded = "excluded"
}
