package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import graft.ops.TakClient
import graft.sources.arcgis._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** TAK client that keeps every submitted feature string for the output
  * check and counts the bytes it received.
  */
class CountingTakClient extends TakClient {
  val received = new ConcurrentLinkedQueue[String]()
  val bytes = new LongAdder

  override def submit(features: Seq[String]): Unit = Trace.timed("tak.submit") {
    features.foreach { f => bytes.add(f.length); received.add(f) }
  }

  /** Take everything received so far, leaving the client empty. */
  def drain(): Vector[String] = {
    val b = Vector.newBuilder[String]
    var f = received.poll()
    while (f != null) { b += f; f = received.poll() }
    b.result()
  }
}

/** [[ArcGisClient]] decorator registered in the traced run: one span and
  * one call/time counter per client call, named by what the call does.
  */
class TracingArcGisClient(inner: ArcGisClient) extends ArcGisClient {
  private def probe(where: String) = where.contains(" IN (")

  override def layerInfo(): LayerInfo = Trace.timed("arcgis.client.layer_info")(inner.layerInfo())

  override def queryPage(
      offset: Long, count: Int, where: String, outFields: Seq[String],
      envelope: Option[Envelope], outSR: Option[String]): Seq[EsriFeature] =
    Trace.timed(if (probe(where)) "arcgis.client.probe" else "arcgis.client.query_page")(
      inner.queryPage(offset, count, where, outFields, envelope, outSR))

  override def queryTopFeatures(
      topCount: Int, groupByField: String, orderByField: String, where: String,
      outFields: Seq[String], outSR: Option[String]): Seq[EsriFeature] =
    Trace.timed("arcgis.client.top_features")(
      inner.queryTopFeatures(topCount, groupByField, orderByField, where, outFields, outSR))

  override def queryByKey(keyCol: String, key: String): Seq[EsriFeature] =
    Trace.timed("arcgis.client.probe")(inner.queryByKey(keyCol, key))

  override def addFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] =
    Trace.timed("arcgis.client.add") {
      Trace.count("arcgis.sink.posted_features", feats.size.toLong)
      inner.addFeatures(feats)
    }

  override def updateFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] =
    Trace.timed("arcgis.client.update") {
      Trace.count("arcgis.sink.posted_features", feats.size.toLong)
      inner.updateFeatures(feats)
    }

  override def queryStatistics(
      where: String, groupBy: Seq[String], stats: Seq[StatSpec]): Seq[Map[String, Any]] =
    Trace.timed("arcgis.client.statistics")(inner.queryStatistics(where, groupBy, stats))
}

/** Execution-layer totals from the Spark listener bus, and one span per job
  * under the operation that started it (from the job's local properties).
  */
class ExecListener extends SparkListener {
  val jobs, stages, tasks = new LongAdder
  val taskRunMs, taskCpuNs, schedulerDelayMs, gcMs = new LongAdder
  val shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = new LongAdder
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
  val jobSpanUs = new LongAdder

  def reset(): Unit = Seq(jobs, stages, tasks, taskRunMs, taskCpuNs, schedulerDelayMs, gcMs,
    shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes, jobSpanUs).foreach(_.reset())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobStarts.put(e.jobId,
      (e.time, prop(Trace.SpanProp).map(_.toLong).getOrElse(0L), prop(Trace.OpProp).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (start, parent, op) =>
      jobs.increment()
      jobSpanUs.add((e.time - start) * 1000)
      Trace.record("spark.job", parent, op, Trace.epochMsToUs(start), Trace.epochMsToUs(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      val info = e.taskInfo
      if (info != null && info.finished)
        schedulerDelayMs.add(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    }
  }
}

/** Sums of `StreamingQueryProgress.durationMs` per phase, and batch count. */
class ProgressListener extends StreamingQueryListener {
  val phases = Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit",
    "commitOffsets", "latestOffset", "getBatch")
  private val sums = phases.map(_ -> new LongAdder).toMap
  val batches = new LongAdder

  def reset(): Unit = { sums.values.foreach(_.reset()); batches.reset() }
  def sum(phase: String): Long = sums(phase).sum()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    if (e.progress.numInputRows > 0) {
      batches.increment()
      phases.foreach(p => Option(d.get(p)).foreach(v => sums(p).add(v.longValue())))
    }
  }
}
