package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of a job. `error` is set when the operation
  * threw or its output failed a check; such a step gives no sample. */
final case class Step(kind: String, name: String, seconds: Double,
    error: Option[String]) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "s" -> seconds, "ok" -> error.isEmpty, "error" -> error)
}

/** The state of one job attempt. Only the bodies of [[step]] are timed;
  * checks and the glue between steps are not. */
final class JobCtx(val spark: SparkSession, val trace: Trace,
    val index: Int) {
  val steps = mutable.Buffer.empty[Step]
  val errors = mutable.Buffer.empty[String]
  /** Job-level values the workload reports besides its steps. */
  val extras = mutable.LinkedHashMap.empty[String, Double]
  var checkNs = 0L

  /** Times `body` as one step. A throwing step is recorded as failed
    * and the exception propagates, ending the job. */
  def step[T](kind: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try {
      val r = body
      steps += Step(kind, name, (System.nanoTime() - t0) / 1e9, None)
      r
    } catch {
      case NonFatal(e) =>
        steps += Step(kind, name, (System.nanoTime() - t0) / 1e9,
          Some(Runner.describe(e)))
        throw e
    }
  }

  /** Runs an untimed output check. A check that throws marks the job
    * failed, and also the step at `stepIndex` when one is named. */
  def check(stepIndex: Option[Int] = None)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    try { body; true }
    catch {
      case NonFatal(e) =>
        val msg = "check failed: " + Runner.describe(e)
        errors += msg
        stepIndex.foreach(i => steps(i) = steps(i).copy(error = Some(msg)))
        false
    } finally checkNs += System.nanoTime() - t0
  }

  def ok: Boolean = errors.isEmpty && steps.forall(_.error.isEmpty)
}

/** A workload: the job it repeats, and how many input records
  * (lines, documents, vectors or queries) one job consumes. */
trait Workload {
  def items: Long
  def job(ctx: JobCtx): Unit
}

object Runner {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .take(500)

  /** Runs one job attempt and returns it. A job that throws keeps the
    * steps it finished, and its error; it is never a timing sample. */
  def attempt(w: Workload, ctx: JobCtx): JobCtx = {
    ctx.spark.catalog.clearCache()
    try w.job(ctx)
    catch { case NonFatal(e) => ctx.errors += describe(e) }
    ctx
  }
}
