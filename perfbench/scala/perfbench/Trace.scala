package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener counts charged to one span. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  var catalystMs = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    inputB += o.inputB; catalystMs += o.catalystMs
  }
}

final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, var endNs: Long, self: Counts)

/** Spans written by the benchmark around its calls into the program.
  *
  * Jobs, tasks and task metrics are charged to the innermost open span
  * through Spark job groups (the group id is the span id). Catalyst phase
  * times arrive through a QueryExecutionListener, which carries no job
  * group; the bus is drained at every span end, so a query execution is
  * charged to the innermost span open when it finished. With tracing off
  * [[span]] only runs its body: no listener, no job group, no drain. */
final class Tracer(spark: SparkSession) {
  private val originNs: Long = System.nanoTime()
  private var enabled = false
  private var registered = false
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  @volatile private var pendingCatalystMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.flatMap(g => Option(byId.get(g.toInt))).foreach { s =>
        s.self.synchronized(s.self.jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.self.synchronized {
          s.self.tasks += 1
          if (m != null) {
            s.self.runMs += m.executorRunTime
            s.self.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            s.self.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
            s.self.inputB += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      pendingCatalystMs += qe.tracker.phases.values.map(_.durationMs).sum
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  /** Run `body` with tracing on; the listeners are registered on first
    * use and stay idle (no job group matches) while tracing is off. */
  def withTracing[T](body: => T): T = {
    if (!registered) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      registered = true
    }
    enabled = true
    try body finally enabled = false
  }

  private def drain(): Unit = BusDrain.drain(sc)

  /** Charge the catalyst time delivered so far to the innermost span. */
  private def settle(): Unit = {
    drain()
    open.headOption.foreach(_.self.catalystMs += pendingCatalystMs)
    pendingCatalystMs = 0L
  }

  def span[T](name: String, run: String)(body: => T): T =
    if (!enabled) body
    else {
      settle()
      val parent = open.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, parent, run, System.nanoTime(), 0L,
        new Counts)
      spans += s
      byId.put(s.id, s)
      open.push(s)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        settle()
        s.endNs = System.nanoTime()
        open.pop()
        open.headOption match {
          case Some(p) =>
            sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Counts of a span plus all of its descendants. */
  def total(s: Span): Counts = {
    val c = new Counts
    c.add(s.self)
    spans.iterator.filter(_.parent == s.id).foreach(ch => c.add(total(ch)))
    c
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Spans as JSON lines: name, start and end (ms since the tracer was
    * made), parent, run or request id, and the span's own counts. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = s.self
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run":${Json.str(s.run)},"start_ms":${(s.startNs - originNs) / 1e6},""" +
        s""""end_ms":${(s.endNs - originNs) / 1e6},"jobs":${c.jobs},""" +
        s""""tasks":${c.tasks},"run_ms":${c.runMs},""" +
        s""""shuffle_write_b":${c.shuffleWriteB},"spill_b":${c.spillB},""" +
        s""""input_b":${c.inputB},"catalyst_ms":${c.catalystMs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A flat object of string keys and integer values. */
  def parseFlat(text: String): Map[String, String] =
    """"([^"]+)"\s*:\s*(-?\d+)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
