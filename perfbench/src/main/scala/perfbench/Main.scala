package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.server.RestApi

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <file>`. Writes the run's artifact (metrics,
  * outcome counts, the effective Spark conf and the JVM's limits) as JSON
  * to `--out`; `run.py` adds the host record and prints the result line.
  */
object Main {
  /** Each workload's body and the per-layer metrics its traced run must
    * produce.
    */
  val Workloads: Map[String, (Ctx => Unit, Seq[String])] = Map(
    "serve" -> ((Serve.run(_)), Serve.Layers),
    "bulk_ann" -> ((BulkAnn.run(_)), BulkAnn.Layers))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts.getOrElse("workload", "")
    val (body, layers) = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = opts("out")

    val spark = session()
    try {
      val ctx = new Ctx(spark, workload, seed, seconds, trace)
      body(ctx)
      if (trace) ctx.e2e.foreach { case (k, v) => ctx.layer(s"traced.$k") = v }
      val conf = spark.conf.getAll.toSeq.sortBy(_._1).toMap
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
        new java.io.File(out), ctx.artifact ++ Map(
        "layer_names" -> layers,
        "spark_conf" -> conf,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
        "cores" -> Runtime.getRuntime.availableProcessors()))
    } finally spark.stop()
  }

  /** The session the shipped `Cli.main` builds, with its settings. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .master(s"local[$cpus]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** State of one run: the session, the seed, the outcome ledger, the
  * trace, and the metrics the workload reports.
  */
final class Ctx(val spark: SparkSession, val workload: String,
                val seed: Long, val seconds: Int, val trace: Boolean) {
  val sc = spark.sparkContext
  val cpus: Int = sc.defaultParallelism
  val ledger: Ledger =
    if (trace) { val l = new Ledger; sc.addSparkListener(l); l } else null
  val outcomes = new Outcomes
  val spans = new Trace(trace)
  /** End-to-end figures; `BENCHMARK.json` names the ones every workload
    * reports, each with its regression bound.
    */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (traced run). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own figures, recorded in the artifact only. */
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val rng = new scala.util.Random(seed)
  /** Builds the REST surface under test; the self-tests plant faults
    * here.
    */
  var newApi: SparkSession => RestApi = new RestApi(_)

  private val born = System.nanoTime()
  private var lastMark = born
  /** Records the wall time since the previous mark as phase `name`. */
  def mark(name: String): Unit = {
    val now = System.nanoTime()
    extra(s"phase_s.$name") = (now - lastMark) / 1e9
    lastMark = now
  }

  def deadline: Long = System.nanoTime() + seconds * 1000000000L

  def tagged[T](tag: String)(f: => T): T =
    if (trace) Ledger.tagged(sc, tag)(f) else f

  /** Runs `setup` `n` times, keeps the last result, records the median
    * wall time as `setup_s` and every repetition in the artifact.
    */
  def setups[T](n: Int)(setup: Int => T): T = {
    var last: Option[T] = None
    val times = (0 until n).map { i =>
      val t0 = System.nanoTime()
      last = Some(setup(i))
      (System.nanoTime() - t0) / 1e9
    }.toArray
    e2e("setup_s") = Stats.median(times)
    extra("setup_s_each") = times.toSeq
    last.get
  }

  /** Heap in use after full collections, in MB. Spark frees cached
    * blocks of collected datasets asynchronously, so this collects until
    * two readings agree.
    */
  def recordHeap(): Unit = {
    def used(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = used()
    var cur = used()
    var tries = 0
    while (math.abs(cur - prev) > prev / 100 && tries < 8) {
      prev = cur; cur = used(); tries += 1
    }
    e2e("heap_used_mb") = math.min(prev, cur) / 1048576.0
  }

  /** p50, tail (with its percentile and sample count) of an op's ok
    * samples, in the artifact.
    */
  def latency(op: String): Option[Double] = {
    val xs = outcomes.samples(op)
    if (xs.isEmpty) None
    else {
      val t = Stats.tail(xs)
      extra(s"latency.$op") = Map("n" -> xs.length, "samples_ms" -> xs.toSeq,
        "p50_ms" -> Stats.median(xs),
        "tail_pct" -> t.map(_._1), "tail_ms" -> t.map(_._2))
      Some(Stats.median(xs))
    }
  }

  def artifact: Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
    "trace" -> trace,
    "metrics" -> (if (trace) layer.toMap else e2e.toMap),
    "end_to_end" -> e2e.toMap, "per_layer" -> layer.toMap,
    "workload_figures" -> extra.toMap,
    "outcomes" -> outcomes.summary,
    "span_self_ms" -> spans.selfMs, "span_count" -> spans.spans.size)
}

object Ctx {
  /** Bytes Spark holds in storage (memory and disk) for cached data. */
  def storageBytes(ctx: Ctx): Double =
    ctx.sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
}

