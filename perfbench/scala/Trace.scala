package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spark work done while one span was active, summed over its tasks. */
final class Work {
  var jobs, stages, tasks, taskMs, inputRecords, shuffleReadBytes,
    shuffleWriteBytes, spillBytes = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    inputRecords += o.inputRecords; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** One timed call into the program. `name` may be relabelled by the caller
  * once the call has returned (an apply that turned out to compact).
  */
final class Span(val id: Long, val parent: Long, var name: String,
    val startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around calls into the program, and a `SparkListener` that charges
  * every job, stage and task to the span that was active on the submitting
  * thread (carried as a job-local property, so jobs submitted from the
  * streaming thread are charged correctly too).
  *
  * Disabled, `span` is a plain call: the untraced run makes exactly the
  * same calls and registers no listener.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val nextId = new AtomicLong(1L)
  private val finished = new ConcurrentLinkedQueue[Span]()
  private val work = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def workOf(id: Long): Work = work.computeIfAbsent(id, _ => new Work)

  // all callbacks arrive on the one listener-bus thread
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageSpan.put(s, id))
      workOf(id).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      workOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val w = workOf(stageSpan.getOrDefault(e.stageId, 0L))
        w.tasks += 1
        w.taskMs += m.executorRunTime
        w.inputRecords += m.inputMetrics.recordsRead
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` as a span named `name`; `f` may relabel the span it is given. */
  def spanL[T](name: String)(f: Span => T): T = {
    val prev = sc.getLocalProperty(Key)
    val s = new Span(nextId.getAndIncrement(),
      Option(prev).map(_.toLong).getOrElse(0L), name, System.nanoTime())
    if (enabled) sc.setLocalProperty(Key, s.id.toString)
    try f(s)
    finally {
      s.endNs = System.nanoTime()
      if (enabled) { sc.setLocalProperty(Key, prev); finished.add(s) }
    }
  }

  def span[T](name: String)(f: => T): T = spanL(name)(_ => f)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def spans: Seq[Span] = finished.asScala.toSeq.sortBy(_.id)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Work of a span and every span nested in it. */
  def inclusive(s: Span): Work = {
    val all = spans
    val kids = all.groupBy(_.parent)
    val acc = new Work
    def walk(x: Span): Unit = {
      Option(work.get(x.id)).foreach(acc += _)
      kids.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    acc
  }

  /** Spans and their own (exclusive) work as JSON, for the trace file. */
  def toJson: String = spans.map { s =>
    val w = Option(work.get(s.id)).getOrElse(new Work)
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"ms":${s.ms}%.3f,""" +
      s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.taskMs},""" +
      s""""input_records":${w.inputRecords},"shuffle_read_bytes":${w.shuffleReadBytes},""" +
      s""""shuffle_write_bytes":${w.shuffleWriteBytes},"spill_bytes":${w.spillBytes}}"""
  }.mkString("[\n", ",\n", "\n]")
}
