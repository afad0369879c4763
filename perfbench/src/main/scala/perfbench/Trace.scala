package perfbench

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Work Spark did for one category of ops: a client op name such as
  * "read" or "q:dd08_incremental_neardup", or "epoch" for every job the
  * streaming engine ran inside a micro-batch.
  */
final class Counters {
  var jobs, stages, tasks, cpuNs, shuffleWrite, spill = 0L
  var taskGcMs, bytesRead, recordsRead, actionMs = 0L
  val execIds: mutable.Set[Long] = mutable.Set[Long]()
  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; spill += o.spill; taskGcMs += o.taskGcMs; bytesRead += o.bytesRead
    recordsRead += o.recordsRead; actionMs += o.actionMs
    execIds ++= o.execIds
    this
  }
  def cpuMs: Double = cpuNs / 1e6
}

/** One micro-batch as the streaming engine reported it. */
final case class Progress(batchId: Long, triggerStartMs: Long,
                          durationMs: Map[String, Long])

final case class Span(name: String, op: String, parent: String,
                      startMs: Double, endMs: Double)

/** Spans and counters recorded from outside the engine. The untraced
  * implementation only runs the bodies, so a workload's loop is the same
  * code with tracing on and off.
  */
trait Tracer {
  /** Run one client op; Spark jobs submitted meanwhile are charged to `op`. */
  def op[A](op: String)(body: => A): A
  /** A timed sub-step of the current op. */
  def span[A](name: String)(body: => A): A
}

object NoTrace extends Tracer {
  def op[A](op: String)(body: => A): A = body
  def span[A](name: String)(body: => A): A = body
}

final class SparkTracer(spark: SparkSession) extends Tracer {
  private val origin = System.nanoTime()
  private def nowMs = (System.nanoTime() - origin) / 1e6

  @volatile private var current = "other"
  private var opSeq = 0
  private var currentId = ""
  private val stack = mutable.Stack[String]()
  private val byOp = mutable.Map[String, Counters]()
  private val stageOp = mutable.Map[Int, String]()
  private val actionStartMs = mutable.Map[Long, Long]()
  private val actionMs = mutable.Map[Long, Long]()
  private val progressBuf = mutable.ArrayBuffer[Progress]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()

  private def countersOf(op: String) = byOp.getOrElseUpdate(op, new Counters)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkTracer.this.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_ => "epoch").getOrElse(current)
      val c = countersOf(op)
      c.jobs += 1
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => c.execIds += id.toLong)
      e.stageIds.foreach(stageOp(_) = op)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      SparkTracer.this.synchronized {
        stageOp.get(e.stageInfo.stageId).foreach(countersOf(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkTracer.this.synchronized {
      val m = e.taskMetrics
      stageOp.get(e.stageId).filter(_ => m != null).foreach { op =>
        val c = countersOf(op)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
    // SQL actions: the events QueryExecutionListener is fed from, which
    // carry the execution id the jobs' properties name
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        SparkTracer.this.synchronized(actionStartMs(s.executionId) = s.time)
      case s: SparkListenerSQLExecutionEnd => SparkTracer.this.synchronized {
        actionStartMs.remove(s.executionId).foreach(t => actionMs(s.executionId) = s.time - t)
      }
      case _ => ()
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) SparkTracer.this.synchronized {
        import scala.jdk.CollectionConverters._
        progressBuf += Progress(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    this
  }

  /** Deliver pending events, detach, and freeze the counters. */
  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }

  def drain(): Unit = PerfbenchAccess.drainListenerBus(spark.sparkContext)

  def op[A](op: String)(body: => A): A = {
    drain()
    current = op
    opSeq += 1
    currentId = s"$op#$opSeq"
    try span(op)(body)
    finally { drain(); current = "other" }
  }

  def span[A](name: String)(body: => A): A = {
    val parent = synchronized(stack.headOption.getOrElse(""))
    synchronized(stack.push(name))
    val start = nowMs
    try body
    finally synchronized {
      stack.pop()
      spans += Span(name, currentId, parent, start, nowMs)
    }
  }

  /** Counters summed over the categories `ops` selects, with each
    * category's action time resolved from its SQL execution ids.
    */
  def counters(ops: String => Boolean): Counters = synchronized {
    val out = new Counters
    byOp.filter { case (k, _) => ops(k) }.values.foreach { c =>
      c.actionMs = c.execIds.toSeq.flatMap(actionMs.get).sum
      out.add(c)
    }
    out
  }

  /** Durations in ms of every span called `name` under a `parent` span. */
  def spanMs(name: String, parent: String): Seq[Double] = synchronized(spans
    .filter(s => s.name == name && s.parent == parent).map(s => s.endMs - s.startMs).toList)

  def progress: Seq[Progress] = synchronized(progressBuf.toList)

  def spansJson: String = Json(synchronized(spans.toList).map(s => Map(
    "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
}

/** JVM-wide readings taken at the start and end of a traced window. */
final case class JvmReading(gcMs: Long, codegenClasses: Long, codegenMs: Double)
object JvmReading {
  def now(): JvmReading = {
    val (n, ms) = PerfbenchAccess.codegen()
    JvmReading(Stats.gcMs(), n, ms)
  }
  def delta(a: JvmReading, b: JvmReading): Map[String, Double] = Map(
    "jvm.gc_ms" -> (b.gcMs - a.gcMs).toDouble,
    "jvm.codegen_classes" -> (b.codegenClasses - a.codegenClasses).toDouble,
    "jvm.codegen_ms" -> math.max(0.0, b.codegenMs - a.codegenMs))
}
