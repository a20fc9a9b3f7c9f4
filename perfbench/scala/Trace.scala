package graft.queries.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import Trace.{Counts, Prop, Span}

/** In-memory spans plus the Spark task counts attributed to them.
  *
  * A span is opened around a call into one layer. While it is open,
  * its id is the `perfbench.span` local property of the calling thread,
  * so every job that call submits carries it; the listener maps each
  * job's stages to that span and sums task counts per span. Spans are
  * written out once, at the end of the run.
  */
final class Trace(runId: String) {

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  private val markers = new ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = Option(js.properties).flatMap(p => Option(p.getProperty(Prop)))
      p.foreach(id => js.stageIds.foreach(stageSpan.put(_, id.toLong)))
      Option(js.properties).flatMap(p => Option(p.getProperty(Trace.Marker)))
        .foreach(markerJobs.put(js.jobId, _))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(te.stageId)
      if (te.taskMetrics != null && stageSpan.containsKey(te.stageId)) {
        val c = counts.computeIfAbsent(span, _ => new Counts)
        val m = te.taskMetrics
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(markerJobs.remove(je.jobId)).flatMap(t => Option(markers.get(t)))
        .foreach(_.countDown())
  }

  /** Time `f` as a span named `name`, a child of the innermost open one. */
  def span[T](sc: SparkContext, name: String)(f: => T): (T, Span) = {
    val stack = open.get()
    val s = Span(ids.incrementAndGet(), name, stack.headOption.map(_.id).getOrElse(0L),
      System.nanoTime())
    synchronized(spans += s)
    open.set(s :: stack)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try {
      val r = f
      s.end = System.nanoTime()
      (r, s)
    } finally {
      sc.setLocalProperty(Prop, prev)
      open.set(stack)
    }
  }

  /** Block until the listener has seen every event posted so far: a
    * marker job's end is delivered after all earlier task ends. */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.CountDownLatch(1)
    markers.put(token, seen)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, null)
    sc.setLocalProperty(Trace.Marker, token)
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.setLocalProperty(Trace.Marker, null); sc.setLocalProperty(Prop, prev) }
    seen.await(60, java.util.concurrent.TimeUnit.SECONDS)
    markers.remove(token)
  }

  /** Counts of `s` and all its descendants. */
  def countsOf(s: Span): Counts = {
    val all = synchronized(spans.toList)
    val kids = all.groupBy(_.parent)
    def subtree(x: Span): List[Span] = x :: kids.getOrElse(x.id, Nil).flatMap(subtree)
    val out = new Counts
    subtree(s).flatMap(x => Option(counts.get(x.id))).foreach { c =>
      out.tasks += c.tasks; out.runMs += c.runMs
      out.shuffleWrite += c.shuffleWrite; out.spill += c.spill
    }
    out
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toList).map { s =>
      val c = Option(counts.get(s.id)).getOrElse(new Counts)
      Json.obj("run" -> Json.str(runId), "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "start_ns" -> Json.num(s.start),
        "end_ns" -> Json.num(s.end), "tasks" -> Json.num(c.tasks),
        "task_ms" -> Json.num(c.runMs), "shuffle_write_bytes" -> Json.num(c.shuffleWrite),
        "spill_bytes" -> Json.num(c.spill))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val Prop = "perfbench.span"
  val Marker = "perfbench.marker"

  final case class Span(id: Long, name: String, parent: Long, start: Long,
      var end: Long = -1L) {
    def seconds: Double = (end - start) / 1e9
  }

  /** Task counts summed over a span's jobs. */
  final class Counts {
    var tasks = 0L
    var runMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
}
