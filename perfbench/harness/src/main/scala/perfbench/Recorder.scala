package perfbench

import scala.collection.mutable

/** One timed statement. Times are epoch ms ([[Tracer.nowMs]]); `dueMs` is
  * when the statement should have started — equal to `startMs` in a closed
  * loop, the arrival time in an open loop, where latency counts from it. */
final case class Sample(kind: String, pass: Int, traced: Boolean,
    dueMs: Double, startMs: Double, endMs: Double, ok: Boolean, repeat: Boolean) {
  def latencyMs: Double = endMs - dueMs
  def lateMs: Double = startMs - dueMs
}

/** A statement's first result, kept for the oracle check after the run and
  * for checking every later execution of the same statement against it. */
final case class Check(kind: String, text: String, oracle: Option[String],
    columns: Seq[String], rows: Seq[String], var executions: Int)

/** Everything a run measured. Attempts and failures are counted here and
  * nowhere else: an op that throws or returns rows different from its
  * statement's first execution is a failure. */
final class Recorder {
  val samples = mutable.ArrayBuffer[Sample]()
  /** wall of each completed pass (ms), by pass number */
  val passes = mutable.ArrayBuffer[(Int, Boolean, Double)]()
  val checks = mutable.LinkedHashMap[String, Check]()
  val errors = mutable.ArrayBuffer[String]()
  private val seen = mutable.HashSet[String]()
  var attempted = 0
  var failed = 0

  /** Per-layer figures of each traced statement: op id -> (pass, figures). */
  val opLayers = mutable.LinkedHashMap[Int, (Int, mutable.LinkedHashMap[String, Double])]()
  /** Run-level figures (ingest, server and load-generator figures). */
  val extra = mutable.LinkedHashMap[String, Double]()

  def layerOf(op: Int, pass: Int): mutable.LinkedHashMap[String, Double] =
    synchronized(opLayers.getOrElseUpdate(op, (pass, mutable.LinkedHashMap()))._2)

  /** Record one attempted statement. On success `outcome` holds the
    * canonical (columns, rows) when the rows are to be checked: a result
    * that differs from the same `key`'s first result is a failure. Returns
    * whether the op succeeded. */
  def record(stmt: Stmt, key: String, pass: Int, traced: Boolean, dueMs: Double,
      startMs: Double, endMs: Double,
      outcome: Either[String, Option[(Seq[String], Seq[String])]]): Boolean =
    synchronized {
      attempted += 1
      val repeat = !seen.add(key)
      val ok = outcome match {
        case Left(err) =>
          if (errors.length < 20) errors += s"${stmt.kind}: ${err.take(300)}"
          false
        case Right(None) => true
        case Right(Some((cols, rows))) =>
          checks.get(key) match {
            case None =>
              checks(key) = Check(stmt.kind, stmt.text, stmt.oracle, cols, rows, 1); true
            case Some(c) =>
              c.executions += 1
              val same = c.columns == cols && c.rows == rows
              if (!same && errors.length < 20) errors += s"${stmt.kind}: result changed on repeat"
              same
          }
      }
      if (!ok) failed += 1
      samples += Sample(stmt.kind, pass, traced, dueMs, startMs, endMs, ok, repeat)
      ok
    }

  /** A failure outside any statement (e.g. a wire row-sample mismatch). */
  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (errors.length < 20) errors += msg
  }
}
