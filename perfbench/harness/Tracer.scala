package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** One traced interval: a layer call made by the benchmark. Counters are
  * what Spark ran while this span was the innermost open one. */
final class Span(val id: Int, val name: String, val parent: Int, val run: Int) {
  var startNs = 0L
  var endNs = 0L
  var gcStartMs = 0L
  var gcEndMs = 0L
  val jobs, stages, tasks, shuffleWrite, shuffleRead, shuffleRecords, spill,
      runTimeMs = new AtomicLong
  def seconds: Double = (endNs - startNs) / 1e9
  def gcSeconds: Double = (gcEndMs - gcStartMs) / 1e3
}

/** Labels every Spark job with the span open on the calling thread (a
  * local property, inherited by the threads Spark SQL spawns) and, as a
  * listener, charges jobs, stages, tasks, shuffle and spill to that span.
  * Spans stay in memory; `report` lists them once the benchmark ends.
  * Attached only around traced runs, so untraced runs pay nothing. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  private val epoch = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  def attach(): Unit = sc.addSparkListener(this)
  def drain(): Unit = PerfbenchBus.drain(sc)
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Runs `body` inside a new span that is a child of the open one. */
  def span[T](name: String, run: Int)(body: => T): (T, Span) = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), run)
    spans += s
    byId.put(s.id, s)
    open = s :: open
    sc.setLocalProperty(Prop, s.id.toString)
    sc.setJobDescription(name)
    s.gcStartMs = gcMs()
    s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.gcEndMs = gcMs()
      open = open.tail
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
      sc.setJobDescription(open.headOption.map(_.name).orNull)
    }
  }

  private def spanOf(p: Properties): Option[Span] =
    Option(p).flatMap(p => Option(p.getProperty(Prop))).flatMap(id => Option(byId.get(id.toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(_.jobs.incrementAndGet())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.remove(e.stageInfo.stageId)).foreach { s =>
      s.stages.incrementAndGet()
      s.tasks.addAndGet(e.stageInfo.numTasks)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        s.runTimeMs.addAndGet(m.executorRunTime)
      }
    }

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] =
    s +: spans.toSeq.filter(_.parent == s.id).flatMap(subtree)

  /** Counter summed over `s` and its descendants. */
  def total(s: Span, f: Span => AtomicLong): Long = subtree(s).map(f(_).get).sum

  /** Span duration minus the part its children cover. */
  def self(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** The spans as rows for the trace report. */
  def report(): Seq[Map[String, Any]] =
    spans.toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_s" -> (s.startNs - epoch) / 1e9, "end_s" -> (s.endNs - epoch) / 1e9,
        "self_s" -> self(s), "jobs" -> s.jobs.get, "stages" -> s.stages.get,
        "tasks" -> s.tasks.get, "shuffle_write_bytes" -> s.shuffleWrite.get,
        "shuffle_read_bytes" -> s.shuffleRead.get, "shuffle_records" -> s.shuffleRecords.get,
        "spill_bytes" -> s.spill.get, "executor_run_s" -> s.runTimeMs.get / 1e3,
        "gc_s" -> s.gcSeconds)
    }
}
