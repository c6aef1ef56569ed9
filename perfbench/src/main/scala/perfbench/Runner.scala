package perfbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

/** What an op's measured work returns: the result rows it delivered and
  * the check of its output, which runs after the clock stops. */
final case class Outcome(rows: Long, check: () => Unit)

/** One operation of a workload. `run` is the measured work. */
final case class Op(name: String, run: Trace => Outcome)

/** An op that threw, or whose output failed its check, has a
  * `failure` naming the exception class; its latency is not a sample. */
final case class OpResult(name: String, seconds: Double, rows: Long, failure: Option[String]) {
  def ok: Boolean = failure.isEmpty
}

/** One run of a workload's whole op list. `seconds` is its wall time
  * without the output checks. */
final case class RunResult(seconds: Double, ops: Vector[OpResult]) {
  def rows: Long = ops.filter(_.ok).map(_.rows).sum
}

/** The closed loop: one driver thread, each op starting only after the
  * previous one has completed. */
object Runner {

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** Runs and checks one op; returns its result and the check time. */
  def runOp(op: Op, trace: Trace): (OpResult, Double) = {
    val t0 = System.nanoTime()
    val outcome = try Right(trace.op(op.name)(op.run(trace))) catch { case NonFatal(e) => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    outcome match {
      case Left(e) => (OpResult(op.name, seconds, 0, Some(describe(e))), 0.0)
      case Right(out) =>
        val c0 = System.nanoTime()
        val failure = try { out.check(); None } catch { case NonFatal(e) => Some(describe(e)) }
        (OpResult(op.name, seconds, out.rows, failure), (System.nanoTime() - c0) / 1e9)
    }
  }

  /** One run of `ops`, after `prelude` (the per-run cache reset). */
  def run(ops: Seq[Op], prelude: () => Unit, trace: Trace): RunResult = {
    val t0 = System.nanoTime()
    prelude()
    val results = ops.map(op => runOp(op, trace))
    val seconds = (System.nanoTime() - t0) / 1e9 - results.map(_._2).sum
    RunResult(seconds, results.map(_._1).toVector)
  }

  /** Driver heap still in use after a full GC. */
  def retainedHeapMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
