package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spark work attributed to one span: the jobs whose submitting thread
  * carried the span's id, and every task of those jobs' stages. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
}

final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. A span is opened around
  * one call into an engine layer; the call's Spark jobs are tagged with
  * the innermost open span through a thread-local job property (Spark
  * propagates it to the threads that run adaptive stages and
  * broadcasts), and a `SparkListener` adds each tagged job's task
  * metrics to that span. Counters therefore hold a span's own work,
  * never its children's. One client thread opens spans; the listener
  * bus thread only adds to counters. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  sc.addSparkListener(this)

  def span[T](name: String, request: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    counters.put(id, new Counters)
    val outer = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, name, parent, request, t0, System.nanoTime())
      open = open.tail
      sc.setLocalProperty(Prop, outer)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
      val id = s.toInt
      val c = counters.get(id)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(st => stageSpan.put(st, id))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    if (id != null && e.taskMetrics != null) {
      val c = counters.get(id.intValue)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Finished spans with their counters, after every listener event
    * posted so far has been delivered. */
  def finish(): Seq[(Span, Counters)] = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(this)
    done.toSeq.map(s => s -> counters.get(s.id))
  }
}
