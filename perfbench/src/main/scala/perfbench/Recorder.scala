package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkAccess

/** Minimal JSON rendering for the raw result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One wall clock for ops, spans and Spark events: epoch milliseconds
  * with sub-millisecond resolution from the monotonic clock.
  */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

final case class OpRec(id: Int, kind: String, cls: String, t0: Double, t1: Double,
                       ok: Boolean, error: String, extra: Map[String, Any])

final case class SpanRec(id: Int, parent: Int, op: Int, name: String, layer: String,
                         t0: Double, t1: Double)

/** Per-job counters from the benchmark's own SparkListener. */
final class JobRec(val id: Int, val span: Int, val t0: Double) {
  @volatile var t1: Double = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
}

/** Records every timed op and, while `tracing` is on, spans around each
  * call the benchmark makes into a layer. Jobs are tied to spans through
  * a thread-local Spark property set around each call; SQL executions
  * (planning time, sidecar-refresh writes) are tied to ops by time. The
  * listeners are attached only when `listen` is set.
  */
final class Recorder(listen: Boolean, sc: SparkContext) {
  @volatile var tracing = false
  val SpanProp = "perfbench.span"

  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[SpanRec]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var currentOp = -1

  private def gcTotals: (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  if (listen) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, span, e.time.toDouble)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.inputBytes += m.inputMetrics.bytesRead
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        SparkAccess.executionOf(end).foreach { case (qe, durationNs) =>
          val planning = qe.tracker.phases.values.map(_.durationMs).sum
          val output = qe.logical.collectFirst {
            case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
          }.getOrElse("")
          val t1 = end.time.toDouble
          executions.add(Map("t0" -> (t1 - durationNs / 1e6), "t1" -> t1,
            "planning_ms" -> planning.toDouble, "output" -> output))
        }
      case _ =>
    }
  })

  /** Time one op of the workload. A throw or a failed check marks it
    * failed; the loop goes on with the next op.
    */
  def op(kind: String, cls: String)(body: => Map[String, Any]): OpRec = {
    val id = ops.size
    currentOp = id
    val (gcMs0, gcN0) = if (tracing) gcTotals else (0L, 0L)
    val t0 = Clock.nowMs
    val (ok, err, extra) =
      try {
        val x = span(kind, "op")(body)
        (!x.get("check_failed").contains(true), "", x)
      } catch {
        case e: Throwable => (false, String.valueOf(e.getMessage).take(300), Map.empty[String, Any])
      }
    val t1 = Clock.nowMs
    val gc =
      if (!tracing) Map.empty[String, Any]
      else { val (m, n) = gcTotals; Map("gc_ms" -> (m - gcMs0), "gc_count" -> (n - gcN0)) }
    val r = OpRec(id, kind, cls, t0, t1, ok, err, extra ++ gc + ("traced" -> tracing))
    ops += r
    currentOp = -1
    r
  }

  /** A span around one call into a layer (traced runs only). */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack = id :: stack
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
        spans += SpanRec(id, parent, currentOp, name, layer, t0, t1)
      }
    }

  /** Deliver every queued listener event before the trace is read. */
  def drain(): Unit = if (listen) SparkAccess.drainListeners(sc)

  def opsJson: String = ops.map { o =>
    Json.value(Map("id" -> o.id, "kind" -> o.kind, "cls" -> o.cls, "t0" -> o.t0,
      "t1" -> o.t1, "ok" -> o.ok, "error" -> o.error) ++ o.extra)
  }.mkString("[", ",", "]")

  def traceJson: String = {
    val sp = spans.map(s => Json.value(Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "layer" -> s.layer, "t0" -> s.t0, "t1" -> s.t1)))
    val jb = jobs.values.asScala.toSeq.sortBy(_.id).map(j => j.synchronized {
      Json.value(Map("id" -> j.id, "span" -> j.span, "t0" -> j.t0, "t1" -> j.t1,
        "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ms" -> j.cpuNs / 1e6,
        "input_bytes" -> j.inputBytes, "shuffle_bytes" -> j.shuffleBytes))
    })
    val ex = executions.asScala.toSeq.map(Json.value)
    s"""{"spans":${sp.mkString("[", ",", "]")},"jobs":${jb.mkString("[", ",", "]")},""" +
      s""""executions":${ex.mkString("[", ",", "]")}}"""
  }
}
