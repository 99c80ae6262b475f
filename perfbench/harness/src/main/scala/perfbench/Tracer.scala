package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced run. `op` is the statement it belongs to
  * (-1 for run-level spans); `parent` is the enclosing span id (-1 at the
  * root). Times are epoch milliseconds with microsecond fraction. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Executor and scheduler totals for one statement (or a whole run). */
final class Work {
  var jobs, stages, tasks, attempts = 0L
  var runMs, cpuMs, gcMs, taskWaitMs, fetchWaitMs = 0.0
  var inputRecords, inputBytes, shuffleWriteBytes, shuffleRecords = 0L
  var spillBytes, outputBytes = 0L
  /** job (start, end) intervals, epoch ms */
  val jobSpans = mutable.ArrayBuffer[(Double, Double)]()
}

/** Records what a traced run needs from outside the engine: spans the
  * benchmark opens around its own calls, job/stage/task events from Spark's
  * public listener bus (attributed by the `perfbench.op` local property the
  * benchmark thread sets), and Catalyst phase times from a public
  * [[QueryExecutionListener]] for statements the benchmark does not issue
  * itself (the wire server's). Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val open = ThreadLocal.withInitial(() => new java.util.ArrayDeque[Integer]())
  /** listener events count only while true (the traced passes) */
  @volatile var active = false

  private val byOp = new ConcurrentHashMap[Int, Work]()
  val runWork = new Work // every event seen while active, any thread
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val taskIds = ConcurrentHashMap.newKeySet[(Int, Int, Int)]()

  /** Catalyst phase totals (ms) and plan-shortcut counts from the
    * QueryExecutionListener. */
  val phaseTotals = new ConcurrentHashMap[String, Double]()

  spark.sparkContext.addSparkListener(this)

  /** Time `body` as a span named `name` of statement `op`, nested in the
    * span this thread has open. */
  def span[A](name: String, op: Int)(body: => A): A = {
    val st = open.get
    val id = nextId.getAndIncrement()
    val parent: Int = if (st.isEmpty) -1 else st.peek()
    val start = nowMs()
    st.push(id)
    try body
    finally {
      st.pop()
      spans.synchronized { spans += Span(id, name, op, parent, start, nowMs()) }
    }
  }

  /** Record an interval timed elsewhere (wire packets, listener jobs). */
  def add(name: String, op: Int, parent: Int, startMs: Double, endMs: Double): Unit =
    spans.synchronized {
      spans += Span(nextId.getAndIncrement(), name, op, parent, startMs, endMs)
    }

  /** After [[drain]]: each statement's jobs become `job` spans under the
    * innermost benchmark span of that statement that was open at job start. */
  def addJobSpans(): Unit = {
    val ops = allSpans.groupBy(_.op)
    byOp.asScala.foreach { case (op, w) =>
      val mine = ops.getOrElse(op, Nil)
      w.jobSpans.foreach { case (s, e) =>
        val holder = mine.filter(x => x.startMs <= s && s <= x.endMs)
        val parent = if (holder.isEmpty) -1 else holder.minBy(_.ms).id
        add("job", op, parent, s, e)
      }
    }
  }

  def work(op: Int): Work = byOp.computeIfAbsent(op, _ => new Work)

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)

  private def both(op: Int)(f: Work => Unit): Unit = {
    runWork.synchronized(f(runWork))
    if (op >= 0) { val w = work(op); w.synchronized(f(w)) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val op = opOf(e.properties)
    jobStart.put(e.jobId, (op, e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
    both(op) { w => w.jobs += 1; w.stages += e.stageIds.length }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      both(op)(_.jobSpans += ((t0.toDouble, e.time.toDouble)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageOp.containsKey(e.stageId)) {
      val op = stageOp.get(e.stageId)
      val info = e.taskInfo
      val fresh = taskIds.add((e.stageId, e.stageAttemptId, info.index))
      val wait = Option(stageSubmitted.get(e.stageId))
        .map(t => math.max(0L, info.launchTime - t)).getOrElse(0L)
      val m = Option(e.taskMetrics)
      both(op) { w =>
        w.attempts += 1
        if (fresh) w.tasks += 1
        w.taskWaitMs += wait
        m.foreach { t =>
          w.runMs += t.executorRunTime
          w.cpuMs += t.executorCpuTime / 1e6
          w.gcMs += t.jvmGCTime
          w.inputRecords += t.inputMetrics.recordsRead
          w.inputBytes += t.inputMetrics.bytesRead
          w.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
          w.shuffleRecords += t.shuffleWriteMetrics.recordsWritten
          w.fetchWaitMs += t.shuffleReadMetrics.fetchWaitTime
          w.spillBytes += t.diskBytesSpilled
          w.outputBytes += t.outputMetrics.bytesWritten
        }
      }
    }

  /** Called by [[PhaseListener]] for every successful action. */
  def onQuery(qe: QueryExecution): Unit = if (active) {
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseTotals.merge(phase, (s.endTimeMs - s.startTimeMs).toDouble, _ + _)
    }
    Exec.planFlags(qe).foreach { case (k, v) => phaseTotals.merge(k, v, _ + _) }
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Epoch milliseconds at nanoTime resolution: spans and listener event
    * times (epoch ms) share one time base. */
  def nowMs(): Double = System.nanoTime() / 1e6 + offsetMs
  private val offsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** The tracer of the running session, if the run is traced. */
  @volatile var current: Option[Tracer] = None

  /** Union length of intervals (ms). */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - covered(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }))
    }.toMap
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session — including each wire connection's — reports its actions. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.current.foreach(_.onQuery(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
