package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. `traceId` ties together every span of one sync
  * pass or one query; `parent` is the span that caused this one (0 = root).
  */
final case class Span(id: Long, parent: Long, traceId: Long, name: String,
                      layer: String, startNs: Long, endNs: Long, onTask: Boolean = false) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span and counter recorder. Everything is off unless [[on]]
  * is set, so an untraced run pays one volatile read per boundary.
  * Driver-side spans nest through a thread-local stack; executor-side
  * spans (fetcher and connector calls inside tasks) find their parent
  * through the Spark job that runs their stage.
  */
object Trace {
  @volatile var on: Boolean = false

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = TrieMap.empty[String, LongAdder]
  private final case class Open(id: Long, traceId: Long)
  private val stack = ThreadLocal.withInitial[List[Open]](() => Nil)
  // stageId -> (job span id, trace id), filled by the listener
  private val stageJob = TrieMap.empty[Int, (Long, Long)]
  @volatile private var sc: SparkContext = _

  def install(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(JobListener)
  }

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.getOrElseUpdate(name, new LongAdder).add(n)

  def counter(name: String): Long = counters.get(name).map(_.sum).getOrElse(0L)

  /** Runs `body` inside a driver-side span. A span opened with no parent
    * starts a new trace id.
    */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, traceId) = outer.headOption.map(o => (o.id, o.traceId)).getOrElse((0L, id))
      stack.set(Open(id, traceId) :: outer)
      publish(id, traceId)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, traceId, name, layer, t0, System.nanoTime()))
        stack.set(outer)
        outer.headOption.fold(publish(0L, 0L))(o => publish(o.id, o.traceId))
      }
    }

  /** Span for a call that may run inside a Spark task (page fetch,
    * connector statement). Returns the body's result; the span's parent is
    * the job of the running task, or the driver span when called on the
    * driver.
    */
  def leaf[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val tc = org.apache.spark.TaskContext.get()
      val (parent, traceId) =
        if (tc == null) stack.get().headOption.map(o => (o.id, o.traceId)).getOrElse((0L, 0L))
        else stageJob.getOrElse(tc.stageId(), (0L, 0L))
      val t0 = System.nanoTime()
      try body
      finally spans.add(Span(ids.incrementAndGet(), parent, traceId, name, layer, t0,
        System.nanoTime(), onTask = tc != null))
    }

  /** Jobs started while a span is open inherit it through local properties. */
  private def publish(spanId: Long, traceId: Long): Unit =
    if (sc != null) {
      sc.setLocalProperty("perfbench.span", if (spanId == 0) null else spanId.toString)
      sc.setLocalProperty("perfbench.trace", if (traceId == 0) null else traceId.toString)
    }

  def drainSpans(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result()
  }

  def reset(): Unit = { drainSpans(); counters.clear(); stageJob.clear() }

  /** Listener events arrive asynchronously: wait until no job is open and
    * the bus has been quiet for 100 ms, so counters read after an action
    * include that action's tasks.
    */
  def settle(): Unit = if (on) {
    val deadline = System.nanoTime() + 5000000000L
    while ((JobListener.busy || System.nanoTime() - JobListener.lastEventNs < 100000000L) &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Spark jobs as spans, plus the task-level counters of each job. */
  private object JobListener extends SparkListener {
    private val open = TrieMap.empty[Int, (Long, Long, Long, Long)] // job -> (span, parent, trace, t0)
    private val names = TrieMap.empty[Long, String] // job span -> call site of its final stage
    @volatile var lastEventNs: Long = 0L
    def busy: Boolean = open.nonEmpty

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
      lastEventNs = System.nanoTime()
      val id = ids.incrementAndGet()
      val traceId = prop("perfbench.trace")
      open.put(e.jobId, (id, prop("perfbench.span"), traceId, System.nanoTime()))
      names.put(id, e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?"))
      e.stageIds.foreach(s => stageJob.put(s, (id, traceId)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      open.remove(e.jobId).foreach { case (id, parent, traceId, t0) =>
        lastEventNs = System.nanoTime()
        spans.add(Span(id, parent, traceId, s"job ${names.remove(id).getOrElse("?")}", "job", t0,
          System.nanoTime()))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskInfo != null) {
      lastEventNs = System.nanoTime()
      val job = stageJob.get(e.stageId).map(_._1).getOrElse(0L)
      count(s"job.$job.tasks")
      count(s"job.$job.task_ns", e.taskInfo.duration * 1000000L)
      Option(e.taskMetrics).foreach { m =>
        count(s"job.$job.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
        count(s"job.$job.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  def writeSpans(path: java.nio.file.Path, all: Seq[Span]): Unit =
    java.nio.file.Files.writeString(path, all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"name":"${jsonEscape(s.name)}","layer":"${s.layer}","on_task":${s.onTask},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n"))

  /** JVM-wide GC and JIT time so far, in seconds. */
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  def jitSeconds: Double =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
}
