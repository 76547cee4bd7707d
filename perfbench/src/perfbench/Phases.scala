package perfbench

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalyst phase times from `QueryExecution.tracker`: analysis,
  * optimization and planning, summed over every query execution the run
  * completes and recorded as spans.
  */
object Phases {
  val names = Seq("analysis", "optimization", "planning")
  private val sumsMs = names.map(_ -> new LongAdder).toMap

  def reset(): Unit = sumsMs.values.foreach(_.reset())
  def sumMs(phase: String): Long = sumsMs(phase).sum()

  def recordPlanning(qe: QueryExecution, op: String): Unit = {
    val phases = qe.tracker.phases
    names.foreach { n =>
      phases.get(n).foreach { p =>
        sumsMs(n).add(p.durationMs)
        Trace.record(s"catalyst.$n", Trace.currentSpan, op,
          Trace.epochMsToUs(p.startTimeMs), Trace.epochMsToUs(p.endTimeMs))
      }
    }
  }

  /** Picks up the executions behind Dataset actions (inner collects,
    * writes, `foreachPartition`); the operation is attributed later by time.
    */
  class Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlanning(qe, "")
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPlanning(qe, "")
  }
}
