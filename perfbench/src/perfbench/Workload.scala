package perfbench

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Settings(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    tiny: Boolean,
    dataDir: String,
    outDir: java.nio.file.Path,
    source: String
) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** What the timed region of a workload produced. `latenciesMs` has one
  * entry per operation (query, scan pass or micro-batch); `items` is the
  * work those operations completed (queries or features) and `busyMs` the
  * sum of their latencies. `failed` counts wrong or failed operations;
  * `detail` is written to the run's result file as it is.
  */
final case class Outcome(
    names: Vector[String],
    latenciesMs: Vector[Double],
    cpuMs: Double,
    items: Long,
    failed: Long,
    problems: Vector[String],
    httpRequests: Long = 0L,
    detail: Map[String, Any] = Map.empty
) {
  def busyMs: Double = latenciesMs.sum
  def attempted: Long = latenciesMs.size.toLong
}

/** One workload: a repeatable set-up (inputs, fake server, warm-up) on a
  * fresh session, then a closed-loop timed region.
  */
trait Workload {
  /** Build inputs and warm up on `spark`; may be called again after [[teardown]]. */
  def setup(spark: SparkSession): Unit
  /** Run operations back to back until `deadlineNs`, checking each output. */
  def measure(spark: SparkSession, deadlineNs: Long): Outcome
  /** Release everything [[setup]] started. */
  def teardown(): Unit
  /** Per-layer counters that only this workload can see (fake server, sink, ...). */
  def layerCounters: Map[String, Double] = Map.empty
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private val osMx = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (all threads, GC and JIT included), ns. */
  def processCpuNs: Long = osMx.getProcessCpuTime

  /** Host CPU ticks (total, steal) from /proc/stat, or (0, 0) without it. */
  def cpuTicks(): (Long, Long) = {
    val stat = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(stat)) (0L, 0L)
    else {
      val f = java.nio.file.Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    }
  }
}
