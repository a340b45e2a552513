package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** One timed region of the client: a workload pass, an operation, or a
  * phase of one. `parent` is the span that caused it (-1 for a root).
  * `startMs`/`endMs` are wall-clock epoch millis, used to attribute
  * streaming progress reports, which carry a trigger timestamp and no
  * job properties. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startMs: Long, endMs: Long, seconds: Double)

/** Spark-side counters of one span: every job whose `perfbench.span`
  * local property names the span, and every stage and task of those
  * jobs. */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runTimeMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var mapTaskMs = 0L
  var reduceTaskMs = 0L
  /** shuffle-read bytes per task, per stage that read a shuffle */
  val reduceTaskReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Records spans on the client and Spark events on the listener bus.
  * Inactive (the default) it only runs the body: the untraced mode
  * registers no listener and keeps no spans. */
final class Tracer(sc: SparkContext) {
  private val PropSpan = "perfbench.span"
  private val PropFence = "perfbench.fence"

  private var active = false
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new BusListener

  def isActive: Boolean = active

  /** Start recording: attach the listener. */
  def start(): Unit = if (!active) {
    sc.addSparkListener(listener)
    active = true
  }

  /** Stop recording: wait until the bus has delivered every event posted
    * so far, then detach the listener. */
  def stop(): Unit = if (active) {
    fence()
    sc.removeSparkListener(listener)
    active = false
  }

  /** Run `body` as a span named `name` under the current span. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(PropSpan, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val secs = (System.nanoTime() - t0) / 1e9
        spans += Span(id, parent, name, kind, startMs, System.currentTimeMillis(), secs)
        stack = stack.tail
        sc.setLocalProperty(PropSpan, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Counters of the jobs started under span `id`. */
  def counters(id: Int): SpanCounters = listener.synchronized {
    listener.bySpan.getOrElse(id, new SpanCounters)
  }

  /** Streaming progress reports whose trigger started inside
    * [startMs, endMs]. */
  def progressBetween(startMs: Long, endMs: Long)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    listener.synchronized {
      listener.progress.filter { case (ts, _) => ts >= startMs && ts <= endMs }
        .map(_._2).toSeq
    }

  private val fenceSeq = new AtomicLong(0)

  /** Post a marker job and wait until the listener has seen it end: the
    * bus delivers events in order, so every event posted before the
    * marker has then been delivered too. */
  private def fence(): Unit = {
    val n = fenceSeq.incrementAndGet()
    val saved = sc.getLocalProperty(PropSpan)
    sc.setLocalProperty(PropSpan, null)
    sc.setLocalProperty(PropFence, n.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(PropFence, null)
      sc.setLocalProperty(PropSpan, saved)
    }
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    listener.synchronized {
      while (listener.fenceSeen < n && System.nanoTime() < deadline)
        listener.wait(100)
    }
    require(listener.fenceSeen >= n, "listener bus did not drain within 60 s")
  }

  private final class BusListener extends SparkListener {
    val bySpan = mutable.Map.empty[Int, SpanCounters]
    val stageSpan = mutable.Map.empty[Int, Int]
    val jobFence = mutable.Map.empty[Int, Long]
    val progress = mutable.ArrayBuffer.empty[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]
    var fenceSeen = 0L

    private def spanOf(props: java.util.Properties): Option[Int] =
      Option(props).flatMap(p => Option(p.getProperty(PropSpan))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(PropFence)))
        .foreach(f => jobFence(e.jobId) = f.toLong)
      spanOf(e.properties).foreach { id =>
        bySpan.getOrElseUpdate(id, new SpanCounters).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobFence.remove(e.jobId).foreach { f =>
        fenceSeen = math.max(fenceSeen, f)
        notifyAll()
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(id => bySpan(id).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = bySpan(id)
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runTimeMs += m.executorRunTime
          c.inputBytes += m.inputMetrics.bytesRead
          val w = m.shuffleWriteMetrics
          val r = m.shuffleReadMetrics
          c.shuffleWriteBytes += w.bytesWritten
          c.shuffleWriteRecords += w.recordsWritten
          c.shuffleReadBytes += r.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
          if (w.bytesWritten > 0) c.mapTaskMs += m.executorRunTime
          if (r.totalBytesRead > 0 || r.fetchWaitTime > 0) {
            c.reduceTaskMs += m.executorRunTime
            c.reduceTaskReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
              r.totalBytesRead
          }
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized {
        progress += java.time.Instant.parse(p.progress.timestamp).toEpochMilli -> p.progress
      }
      case _ =>
    }
  }
}

object Trace {
  /** Cumulative GC time of the JVM, seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** Cumulative Janino compile time of generated code, seconds. */
  def codegenSeconds(): Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9

  /** Restart the peak-resident-set count at the current resident set
    * (Linux: `5` to /proc/self/clear_refs); a no-op where that fails. */
  def resetPeakRss(): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"),
      "5".getBytes)
    catch { case _: java.io.IOException => () }

  /** Peak resident set of this process since start or the last
    * [[resetPeakRss]] (VmHWM, Linux /proc), MiB; -1 where /proc is absent. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) -1.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
      finally src.close()
    }
  }
}
