package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Long, end: Long)

/** Spans recorded around the benchmark's calls into the library. Off in
  * untraced runs: `span` then only runs its body. When on, each span also
  * becomes the Spark job group of the calling thread, so the listener can
  * attribute jobs, tasks and bytes to it. Spans stay in memory until the
  * run writes them out. */
object Trace {
  /** Spark's thread-local property names for the job group. */
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescKey = "spark.job.description"
  @volatile var on = false
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def record(s: Span): Unit = { done.add(s); () }
  def nextId(): Long = ids.incrementAndGet()
  def spans: Seq[Span] = done.asScala.toSeq

  /** The innermost open span of this thread as (id, trace), or (0, 0). */
  def current: (Long, Long) = stack.get.headOption.getOrElse((0L, 0L))

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      val outer = stack.get
      val (parent, trace) = outer.headOption.map { case (p, t) => (p, t) }.getOrElse((0L, id))
      val prevGroup = sc.getLocalProperty(JobGroupKey)
      val prevDesc = sc.getLocalProperty(JobDescKey)
      sc.setJobGroup(s"span-$id", name)
      stack.set((id, trace) :: outer)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
        record(Span(id, parent, trace, name, start, end))
      }
    }
}

/** Samples one thread's stack while it runs a call whose inner layers the
  * benchmark cannot wrap itself (e.g. `Engine.ingestBatch`, which calls
  * `Ingest` and `Lake` internally). Consecutive samples whose outermost
  * matching frame is the same layer become one child span of the
  * enclosing span. Only used in traced runs. */
final class StackSampler(target: Thread, layers: Seq[(String, String)],
                         periodMs: Long = 2L) {
  private val samples = mutable.ArrayBuffer[(Long, String)]()
  @volatile private var running = true
  private val th = new Thread(() => {
    while (running) {
      val now = System.nanoTime()
      val frames = target.getStackTrace
      // outermost matching frame: the stack is innermost-first
      val hit = frames.reverseIterator.map(f => s"${f.getClassName}.${f.getMethodName}")
        .flatMap(f => layers.collectFirst { case (prefix, name) if f.startsWith(prefix) => name })
        .nextOption()
      samples.synchronized { samples += ((now, hit.orNull)) }
      Thread.sleep(periodMs)
    }
  }, "perfbench-sampler")
  th.setDaemon(true)
  th.start()

  /** Stop sampling and record the synthesized child spans under `parent`. */
  def finish(parent: (Long, Long)): Unit = {
    running = false
    th.join()
    val s = samples.synchronized(samples.toVector)
    var i = 0
    while (i < s.length) {
      val name = s(i)._2
      var j = i
      while (j + 1 < s.length && s(j + 1)._2 == name) j += 1
      if (name != null) {
        val end = if (j + 1 < s.length) s(j + 1)._1 else s(j)._1
        Trace.record(Span(Trace.nextId(), parent._1, parent._2, name, s(i)._1, end))
      }
      i = j + 1
    }
  }
}

/** Spark-side counters per job, with the job group (span) that ran it.
  * Registered only in traced runs. */
final class LayerListener extends SparkListener {
  final class Job(val group: String, val start: Long) {
    var end = -1L
    var tasks, cpuNs, runMs, gcMs, inputBytes, shuffleWrite, spill = 0L
  }
  private val stageJob = mutable.Map[Int, Int]()
  /** every job by id; times are epoch ms */
  val jobs = mutable.LinkedHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty(Trace.JobGroupKey)).orNull
    jobs(e.jobId) = new Job(g, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
