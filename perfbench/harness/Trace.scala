package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call into a layer: id, parent, wall interval, and the counts
  * the listeners and the harness attribute to it while it is open.
  */
final class Span(val id: Long, val parent: Long, val name: String, val start: Long) {
  @volatile var end: Long = 0L
  val counts = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit = counts.merge(k, v, (a, b) => a + b)
  def count(k: String): Double = Option(counts.get(k)).map(_.doubleValue).getOrElse(0.0)
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans open and close around the harness's
  * calls into the program; Spark jobs submitted while a span is open carry
  * its id as a local property, which is how [[SparkTrace]] attributes
  * stages, tasks and bytes to it. Off (the default) costs one branch.
  */
object Trace {
  val SpanProp = "graft.perfbench.span"
  @volatile var enabled = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()

  def install(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(new SparkTrace)
  }

  def get(id: Long): Span = byId.get(id)

  def currentSpan: Option[Span] = Option(current.get())

  /** Run `body` inside a span named `name` (a child of `under`, else of
    * the thread's open span) when tracing is on; bytes written through the
    * Hadoop local file system and Graft data files opened are recorded as
    * deltas (JVM-wide, so exact for spans that do not overlap).
    */
  def span[T](name: String, under: Span = null)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (under != null) under else current.get()
      val s = new Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id, name, System.nanoTime())
      byId.put(s.id, s)
      spans.add(s)
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      val w0 = Disk.bytesWritten
      val f0 = graft.catalog.GraftReadMetrics.dataFilesOpened
      try body
      finally {
        s.end = System.nanoTime()
        org.apache.spark.graftperfbench.BusSync.drain(sc)
        s.add("fs_bytes_written", (Disk.bytesWritten - w0).toDouble)
        s.add("files_opened", (graft.catalog.GraftReadMetrics.dataFilesOpened - f0).toDouble)
        current.set(parent)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Closed spans named `name`. */
  def named(name: String): Seq[Span] = spans.asScala.filter(s => s.name == name && s.end > 0).toSeq

  /** Self time per span: its wall minus the union of its children's. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.filter(_.end > 0).toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > hi) { covered += b - a; hi = b }
          else if (b > hi) { covered += b - hi; hi = b }
        }
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Spans as JSON lines (written when the run ends). */
  def jsonLines: Seq[String] = spans.asScala.filter(_.end > 0).toSeq.sortBy(_.id).map { s =>
    Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end,
      "counts" -> s.counts.asScala.map { case (k, v) => k -> v.doubleValue }.toMap))
  }
}

/** Attributes jobs, stages, tasks, shuffle/input/output bytes, spill and
  * the time tasks waited for a core to the span open when each job was
  * submitted.
  */
final class SparkTrace extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.enabled) Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .flatMap(id => Option(Trace.get(id.toLong))).foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      s.add("tasks", 1)
      if (m != null) {
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("input_records", m.inputMetrics.recordsRead.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
      Option(stageSubmitted.get(e.stageId)).foreach { sub =>
        s.add("sched_wait_s", math.max(0L, e.taskInfo.launchTime - sub) / 1000.0)
      }
    }
}

/** Collects Structured Streaming's per-trigger phase durations. */
final class StreamTrace extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Trace.enabled)
      progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  /** Progress events delivered since the last call. */
  def take(sc: SparkContext): Seq[Map[String, Long]] = {
    org.apache.spark.graftperfbench.BusSync.drain(sc)
    Iterator.continually(progress.poll()).takeWhile(_ != null).toList
  }
}

/** The recording publisher handed to `StreamRunner.boot`: counters land
  * on the open span.
  */
final class SpanPublisher(span: () => Option[Span]) extends graft.streaming.MetricsPublisher {
  override def counter(name: String, value: Long, tags: Map[String, String]): Unit =
    span().foreach(_.add(name, value.toDouble))
  override def gauge(name: String, value: Double, tags: Map[String, String]): Unit =
    span().foreach(_.add(name, value))
}
