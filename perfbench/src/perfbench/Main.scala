package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.VectorMap
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds the classes and starts
  * this with the run's settings. It sets up the workload three times (the
  * median set-up is reported), measures one closed-loop timed region,
  * checks every output, and writes the result file whose `line` member is
  * the run's one-line JSON result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val s = Settings(
      workload = opt("workload"),
      seed = opt("seed").toLong,
      seconds = opt("seconds").toInt,
      trace = opt("trace") == "1",
      tiny = opts.get("size").contains("tiny"),
      dataDir = opt("data"),
      outDir = Paths.get(opt("out")),
      source = opts.getOrElse("source", "unknown"))
    Files.createDirectories(s.outDir)
    val result = opts.get("record") match {
      case Some(path) => recordFingerprints(s, Paths.get(path)); None
      case None => Some(run(s))
    }
    result.foreach { r =>
      Files.writeString(s.outDir.resolve("result.json"), Json.render(r) + "\n")
    }
  }

  def session(s: Settings): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[${s.cores}]")
      .appName("perfbench")
      .config(ResultConfs)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.local.dir", s.outDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", s.outDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session confs that decide how rows are split into partitions, and so
    * the order in which floating-point partial aggregates are summed. They
    * are held fixed, not derived from the core count, so a query's output
    * bits, and with them its fingerprint, do not depend on the host. 4 is
    * the operative baseline's `local[4]` with `shuffle.partitions=4`.
    */
  val ResultConfs: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.default.parallelism" -> "4")

  /** `fingerprints.json` beside the corpus: name → [rows, hex hash, ms].
    * Fails when the file was recorded under other [[ResultConfs]].
    */
  private def loadFingerprints(s: Settings): Map[String, QuerySuite.Recorded] = {
    val path = Paths.get(s.dataDir).getParent.resolve("fingerprints.json")
    val file = Json.parse(Files.readString(path)).asInstanceOf[Map[String, Any]]
    val recordedWith = file.get("confs").collect { case m: Map[_, _] => m.map { case (k, v) => k.toString -> v.toString } }
    if (!recordedWith.contains(ResultConfs))
      throw new IllegalStateException(s"$path was recorded with confs ${recordedWith.getOrElse("unknown")}, " +
        s"this run uses $ResultConfs; re-record the fingerprints (README, output checks)")
    file("queries").asInstanceOf[Map[String, Any]].map { case (k, v) =>
      val Vector(rows: Long, hash, ms) = v.asInstanceOf[Vector[Any]]
      k -> QuerySuite.Recorded(rows, java.lang.Long.parseUnsignedLong(hash.toString, 16), Json.number(ms))
    }
  }

  private def recordFingerprints(s: Settings, path: Path): Unit = {
    val spark = session(s)
    try {
      new QuerySuite(s, Map.empty).setup(spark)
      val fp = QuerySuite.record(spark, s)
      val body = VectorMap(
        "corpus" -> Paths.get(s.dataDir).getFileName.toString,
        "nproc" -> s.cores,
        "confs" -> VectorMap.from(ResultConfs.toSeq.sorted),
        "queries" -> VectorMap.from(fp.toSeq.sortBy(_._1).map { case (k, r) =>
          k -> Vector[Any](r.rows, java.lang.Long.toHexString(r.hash), math.rint(r.refMs * 10) / 10)
        }))
      Files.writeString(path, Json.render(body).replace("],\"", "],\n\"") + "\n")
    } finally spark.stop()
  }

  def run(s: Settings): Map[String, Any] = {
    Trace.enabled = false
    val workload: Workload = s.workload match {
      case "query_suite" => new QuerySuite(s, loadFingerprints(s))
      case "incoming_scan" => new IncomingScan(s)
      case "outgoing_upsert" => new OutgoingUpsert(s)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set up three times in this JVM; the last set-up is the one measured
    val exec = new ExecListener
    val progress = new ProgressListener
    var spark: SparkSession = null
    val setups = (1 to Main.SetupRounds).map { _ =>
      if (spark != null) { workload.teardown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(s)
      // listeners go in before set-up: streams clone the session's listeners
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(progress)
      spark.listenerManager.register(new Phases.Listener)
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    org.apache.spark.PerfbenchShims.drainListenerBus(spark.sparkContext)

    // timed region
    Trace.enabled = s.trace
    exec.reset(); progress.reset(); Phases.reset(); Trace.reset()
    val codegen0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ticks0 = Stats.cpuTicks()
    val wall0 = System.nanoTime()
    val outcome = workload.measure(spark, wall0 + s.seconds * 1000000000L)
    val wallMs = (System.nanoTime() - wall0) / 1e6
    val ticks1 = Stats.cpuTicks()
    // share of the host's CPU time the hypervisor gave to other guests
    val stealPct = 100.0 * (ticks1._2 - ticks0._2) / math.max(1L, ticks1._1 - ticks0._1)
    org.apache.spark.PerfbenchShims.drainListenerBus(spark.sparkContext)
    Trace.enabled = false
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0

    val retainedRdds = spark.sparkContext.getPersistentRDDs.size
    val retainedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val liveHeapMb = liveHeap()
    val layer = workload.layerCounters
    workload.teardown()

    val ops = outcome.attempted.toDouble
    val e2e = VectorMap(
      "setup_s" -> (Stats.median(setups), "s"),
      "op_p50_ms" -> (Stats.percentile(outcome.latenciesMs, 0.5), "ms"),
      "op_p75_ms" -> (Stats.percentile(outcome.latenciesMs, 0.75), "ms"),
      "throughput_per_s" -> (outcome.items / (outcome.busyMs / 1000.0), "1/s"),
      "cpu_ms_per_op" -> (outcome.cpuMs / ops, "ms"),
      "live_heap_mb" -> (liveHeapMb, "MB"))

    def perOp(v: Double) = v / ops
    def client(call: String) = Seq(
      s"arcgis.client.$call.calls" -> (perOp(Trace.counter(s"arcgis.client.$call.calls")), "count/op"),
      s"arcgis.client.$call.ms" -> (perOp(Trace.counter(s"arcgis.client.$call.ns") / 1e6), "ms/op"))
    val added = Trace.counter("arcgis.sink.added").toDouble
    val updated = Trace.counter("arcgis.sink.updated").toDouble
    val posts = Trace.counter("arcgis.client.add.calls") + Trace.counter("arcgis.client.update.calls")
    val perLayer = VectorMap.from(Seq(
      "queries.build_ms" -> (perOp(Trace.counter("queries.build.ns") / 1e6), "ms/op"),
      "catalyst.analysis_ms" -> (perOp(Phases.sumMs("analysis")), "ms/op"),
      "catalyst.optimization_ms" -> (perOp(Phases.sumMs("optimization")), "ms/op"),
      "catalyst.planning_ms" -> (perOp(Phases.sumMs("planning")), "ms/op"),
      "codegen.compiles" -> (perOp(codegen), "count/op"),
      "exec.ms" -> (perOp(exec.jobSpanUs.sum() / 1000.0), "ms/op"),
      "exec.jobs" -> (perOp(exec.jobs.sum()), "count/op"),
      "exec.stages" -> (perOp(exec.stages.sum()), "count/op"),
      "exec.tasks" -> (perOp(exec.tasks.sum()), "count/op"),
      "exec.task_run_ms" -> (perOp(exec.taskRunMs.sum()), "ms/op"),
      "exec.task_cpu_ms" -> (perOp(exec.taskCpuNs.sum() / 1e6), "ms/op"),
      "exec.scheduler_delay_ms" -> (perOp(exec.schedulerDelayMs.sum()), "ms/op"),
      "exec.gc_ms" -> (perOp(exec.gcMs.sum()), "ms/op"),
      "exec.core_busy_ratio" -> (exec.taskRunMs.sum() / (outcome.busyMs * s.cores), "ratio"),
      "shuffle.write_bytes" -> (perOp(exec.shuffleWriteBytes.sum()), "B/op"),
      "shuffle.read_bytes" -> (perOp(exec.shuffleReadBytes.sum()), "B/op"),
      "shuffle.fetch_wait_ms" -> (perOp(exec.fetchWaitMs.sum()), "ms/op"),
      "spill.bytes" -> (perOp(exec.spillBytes.sum()), "B/op"),
      "blocks.retained_rdds" -> (retainedRdds.toDouble, "count"),
      "blocks.retained_mb" -> (retainedMb, "MB")) ++
      Seq("layer_info", "query_page", "probe", "add", "update").flatMap(client) ++ Seq(
      "arcgis.sink.added" -> (perOp(added), "count/op"),
      "arcgis.sink.updated" -> (perOp(updated), "count/op"),
      "arcgis.sink.failed" -> (perOp(Trace.counter("arcgis.sink.failed")), "count/op"),
      "arcgis.sink.probe_hit_ratio" -> (if (added + updated > 0) updated / (added + updated) else 0.0, "ratio"),
      "arcgis.sink.features_per_post" ->
        (if (posts > 0) Trace.counter("arcgis.sink.posted_features").toDouble / posts else 0.0, "count"),
      "stream.trigger_ms" -> (perOp(progress.sum("triggerExecution")), "ms/op"),
      "stream.add_batch_ms" -> (perOp(progress.sum("addBatch")), "ms/op"),
      "stream.query_planning_ms" -> (perOp(progress.sum("queryPlanning")), "ms/op"),
      "stream.wal_commit_ms" -> (perOp(progress.sum("walCommit")), "ms/op"),
      "stream.commit_offsets_ms" -> (perOp(progress.sum("commitOffsets")), "ms/op"),
      "stream.latest_offset_ms" -> (perOp(progress.sum("latestOffset")), "ms/op"),
      "stream.get_batch_ms" -> (perOp(progress.sum("getBatch")), "ms/op"),
      "tak.submit.calls" -> (perOp(Trace.counter("tak.submit.calls")), "count/op"),
      "tak.submit.ms" -> (perOp(Trace.counter("tak.submit.ns") / 1e6), "ms/op"),
      "tak.bytes" -> (perOp(layer.getOrElse("tak.bytes", 0.0)), "B/op")) ++
      Seq("metadata", "count", "query", "probe", "add", "update", "rejected").map { e =>
        s"fake_server.requests.$e" -> (perOp(layer.getOrElse(s"fake_server.requests.$e", 0.0)), "count/op")
      } ++ Seq(
      "fake_server.busy_ms" -> (perOp(layer.getOrElse("fake_server.busy_ns", 0.0) / 1e6), "ms/op"),
      "fake_server.bytes_in" -> (perOp(layer.getOrElse("fake_server.bytes_in", 0.0)), "B/op"),
      "fake_server.bytes_out" -> (perOp(layer.getOrElse("fake_server.bytes_out", 0.0)), "B/op"),
      "fake_server.connections" -> (layer.getOrElse("fake_server.connections", 0.0), "count"),
      "http.requests_per_feature" ->
        (if (outcome.items > 0 && outcome.httpRequests > 0) outcome.httpRequests.toDouble / outcome.items else 0.0,
          "requests/feature"),
      "error_rate" -> (outcome.failed / ops, "fraction"),
      "jvm.peak_rss_mb" -> (peakRssMb(), "MB")))

    if (s.trace) Trace.writeSpans(s.outDir.resolve("spans.jsonl"), s.workload)
    val hostInfo = host(s, spark) + ("steal_pct_timed" -> stealPct)
    spark.stop()

    val metrics = if (s.trace) perLayer else e2e
    val correct = outcome.failed == 0
    val line = VectorMap(
      "correct" -> correct,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> VectorMap.from(metrics.map { case (k, (v, u)) => k -> VectorMap("value" -> v, "unit" -> u) }))
    if (outcome.problems.nonEmpty) System.err.println("[perfbench] problems: " + outcome.problems.take(10).mkString("\n  "))
    VectorMap(
      "line" -> line,
      "workload" -> s.workload,
      "seed" -> s.seed,
      "seconds" -> s.seconds,
      "trace" -> s.trace,
      "size" -> (if (s.tiny) "tiny" else "full"),
      "wall_ms" -> wallMs,
      "ops" -> outcome.attempted,
      "items" -> outcome.items,
      "setup_rounds_s" -> setups,
      "latencies_ms" -> VectorMap.from(outcome.names.zip(outcome.latenciesMs)),
      "end_to_end" -> VectorMap.from(e2e.map { case (k, (v, _)) => k -> v }),
      "per_layer" -> VectorMap.from(perLayer.map { case (k, (v, _)) => k -> v }),
      "problems" -> outcome.problems.take(20),
      "detail" -> outcome.detail,
      "host" -> hostInfo)
  }

  val SetupRounds = 3

  /** Heap in use after full collections, MB. Between collections Spark's
    * ContextCleaner gets time to drop the shuffles, broadcasts and blocks
    * the first collection made unreachable, so what is left is what the
    * session still holds.
    */
  private def liveHeap(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Host, versions, session confs and the CPU calibration loop. */
  private def host(s: Settings, spark: SparkSession): Map[String, Any] = {
    val (st, mt) = calibrate()
    VectorMap(
      "nproc" -> s.cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "source" -> s.source,
      "seed" -> s.seed,
      "calib_st_ms" -> st,
      "calib_mt_ms" -> mt,
      "confs" -> VectorMap.from(spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
        .filterNot { case (k, _) => k.startsWith("spark.app.") || k == "spark.driver.port" ||
          k == "spark.executor.id" || k == "spark.driver.host" }))
  }

  /** The fixed CPU loop `graft.Bench` prints, timed on one thread and on
    * all cores. Recorded beside the result; nothing is normalized by it.
    */
  private def calibrate(): (Double, Double) = {
    def burn(): Long = {
      var h = 1469598103934665603L
      var i = 0
      while (i < 50000000) { h = (h ^ i) * 1099511628211L; i += 1 }
      h
    }
    val warm = burn()
    val t1 = System.nanoTime()
    val s1 = burn()
    val st = (System.nanoTime() - t1) / 1e6
    val sink = new java.util.concurrent.atomic.AtomicLong(warm ^ s1)
    val t2 = System.nanoTime()
    val threads = (0 until Runtime.getRuntime.availableProcessors()).map(_ => new Thread(() => { sink.addAndGet(burn()); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val mt = (System.nanoTime() - t2) / 1e6
    if (sink.get() == 42L) System.err.println("[perfbench] calibration sink")
    (st, mt)
  }
}
