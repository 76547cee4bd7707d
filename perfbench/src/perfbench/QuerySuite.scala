package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** `query_suite`: a seeded sample of the registered queries, run back to
  * back over the bundled corpus. The sample is stratified by recorded cost:
  * the queries are ranked by their recorded latency, cut into consecutive
  * strata of [[QuerySuite.StratumSize]], and the seed picks one query from
  * each, so every seed's sample spans cheap to expensive queries alike.
  * The sweep runs the sample in stratum order, cheapest first. Every
  * sampled query runs once per sweep; the timed region runs whole
  * sweeps until the time is up. Each execution's row count and
  * order-independent row hash are taken in the same pass that times it and
  * compared with the recorded fingerprints.
  */
class QuerySuite(s: Settings, recorded: Map[String, QuerySuite.Recorded]) extends Workload {

  val sample: Vector[String] = {
    val rnd = new Random(s.seed)
    val g = if (s.tiny) 40 else QuerySuite.StratumSize
    val ranked = SparkEntry.queries.keys.toVector
      .sortBy(n => (recorded.get(n).map(_.refMs).getOrElse(Double.MaxValue), n))
    val picked = ranked.grouped(g).flatMap { stratum =>
      // a short last stratum is sampled in proportion to its size
      if (stratum.size == g || rnd.nextDouble() < stratum.size.toDouble / g)
        Some(stratum(rnd.nextInt(stratum.size)))
      else None
    }
    // stratum order: the query at each position has the same recorded
    // cost class for every seed, so JIT warm-up lands alike on every sample
    picked.toVector
  }

  override def setup(spark: SparkSession): Unit = {
    // shared warm-up: the physical shapes every family reuses (parquet scan,
    // shuffle join, window, decimal aggregate, checkpoint), none of the
    // sampled queries themselves
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
      "events", "documents", "embeddings").foreach(t => spark.read.parquet(s"${s.dataDir}/$t.parquet").count())
    val l = spark.read.parquet(s"${s.dataDir}/lineitem.parquet").limit(5000)
    val o = spark.read.parquet(s"${s.dataDir}/orders.parquet").limit(5000)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag").orderBy("l_orderkey")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"), count(lit(1)).as("n"))
      .collect()
    spark.range(1000).toDF("x").localCheckpoint(true).count()
  }

  override def measure(spark: SparkSession, deadlineNs: Long): Outcome = {
    val lat = Vector.newBuilder[Double]
    val names = Vector.newBuilder[String]
    val problems = Vector.newBuilder[String]
    var failed = 0L
    var cpuNs = 0L
    var done = 0L
    do {
      sample.foreach { name =>
        val op = s"q${done}-$name"
        val c0 = Stats.processCpuNs
        val t0 = System.nanoTime()
        val result =
          try Right(QuerySuite.execute(spark, s, name, op))
          catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
        lat += (System.nanoTime() - t0) / 1e6
        names += name
        cpuNs += Stats.processCpuNs - c0
        done += 1
        val verdict = result.flatMap { got =>
          recorded.get(name).map(r => (r.rows, r.hash)) match {
            case Some(want) if want == got => Right(())
            case Some(want) => Left(s"fingerprint $got, recorded $want")
            case None => Left("no recorded fingerprint")
          }
        }
        verdict.left.foreach { msg => failed += 1; problems += s"$name: $msg" }
      }
    } while (System.nanoTime() < deadlineNs)
    Outcome(names.result(), lat.result(), cpuNs / 1e6, done, failed, problems.result())
  }

  override def teardown(): Unit = ()
}

object QuerySuite {
  /** Queries per cost stratum; the sample takes one from each (260 → 33). */
  val StratumSize = 8

  /** A query's recorded output fingerprint and its recorded latency. */
  final case class Recorded(rows: Long, hash: Long, refMs: Double)

  /** Build and run one query, sweeping its output rows on the executors;
    * returns (row count, order-independent hash of the rows).
    */
  def execute(spark: SparkSession, s: Settings, name: String, op: String): (Long, Long) = {
    val sc = spark.sparkContext
    Trace.span("op.query", op) {
      sc.setLocalProperty(Trace.OpProp, op)
      sc.setLocalProperty(Trace.SpanProp, Trace.currentSpan.toString)
      try {
        val df: DataFrame = Trace.timed("queries.build")(SparkEntry.queries(name)(spark, s.dataDir))
        val schema = df.schema
        val parts = df.queryExecution.toRdd.mapPartitions { it =>
          val proj = UnsafeProjection.create(schema)
          var n = 0L
          var h = 0L
          while (it.hasNext) {
            n += 1
            h += mix(proj(it.next()).hashCode())
          }
          Iterator.single((n, h))
        }.collect()
        Phases.recordPlanning(df.queryExecution, op)
        (parts.map(_._1).sum, parts.map(_._2).sum)
      } finally {
        sc.setLocalProperty(Trace.OpProp, null)
        sc.setLocalProperty(Trace.SpanProp, null)
      }
    }
  }

  /** 64-bit finalizer (splitmix64) so a sum of row hashes stays well mixed. */
  def mix(x: Int): Long = {
    var z = x.toLong + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Run every registered query once; its fingerprint and latency. */
  def record(spark: SparkSession, s: Settings): Map[String, Recorded] =
    SparkEntry.queries.keys.toVector.sorted.map { n =>
      val t0 = System.nanoTime()
      val (rows, hash) = execute(spark, s, n, s"record-$n")
      n -> Recorded(rows, hash, (System.nanoTime() - t0) / 1e6)
    }.toMap
}
