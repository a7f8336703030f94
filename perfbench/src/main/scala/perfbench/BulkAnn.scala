package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.Ivf
import graft.ops.Search

/** `bulk_ann`: a persisted collection with `Ivf.build` and `Ivf.pack`
  * done at set-up. The timed phase alternates a batch of [[PackedBatch]]
  * held-out queries through `Ivf.batchSearchPacked` at a fixed `nprobe`
  * with an exact batch of the first [[ExactBatch]] of those queries
  * through `Search.batchTopKPairs`,
  * which is also the truth the packed recall is measured against.
  */
object BulkAnn {
  val Rows = 20000
  val Dims = 384
  /** 256 cells at 200k rows in the reference shape; about the same rows
    * per cell at this size.
    */
  val Cells = 32
  /** Centroids are fit on a sample of this many rows. */
  val TrainRows = 5000
  /** Chosen once, when the benchmark was introduced, as the smallest
    * nprobe whose recall@10 stayed at least 0.95 with a margin on every
    * seed tried: nprobe 1 gave 0.956 and 0.966, nprobe 2 gave 0.991 and
    * 0.996 (seeds 21 and 22).
    */
  val Nprobe = 2
  val PackedBatch = 500
  val ExactBatch = 50
  val Pool = 2000
  val Setups = 3
  /** Untimed alternations before timing, while the JIT compiles the
    * kernels and batch times keep falling, stopped early after
    * [[WarmCapSeconds]]. A count rather than a time puts every run at
    * the same point of that curve.
    */
  val WarmRounds = 6
  val WarmCapSeconds = 25
  /** Every this many queries of a batch, one is checked. */
  val CheckEvery = 25

  /** Per-layer metrics a traced run produces. */
  val Layers: Seq[String] = Seq("packed_batch", "exact_batch").flatMap(op =>
    Seq("jobs", "tasks", "task_busy_ms", "sched_wait_ms")
      .map(m => s"spark.$m.$op")) ++
    Seq("spark.shuffle_read_bytes.exact_batch",
      "spark.shuffle_write_bytes.exact_batch", "spark.gc_ms",
      "spark.storage_bytes", "spark.stored_bytes_per_user_byte",
      "ann.build_s", "ann.pack_s", "ann.packed_bytes_per_vector_byte",
      "ann.packed_batch_ms", "ann.probe_ms", "ann.candidates_per_query",
      "ann.scan_fraction", "functions.distance_evals.packed_batch",
      "functions.distance_evals.exact_batch")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val vectors = Data.frame(spark, Rows, Dims, ctx.seed, ctx.cpus).persist()
    vectors.count()
    val pool = Data.queries(Rows, Pool, Dims, ctx.seed)
    ctx.extra("nprobe") = Nprobe
    ctx.extra("cells") = Cells

    var buildS = 0.0
    var packS = 0.0
    var prev: Option[Ivf.PackedIndex] = None
    ctx.mark("inputs")
    val px = ctx.setups(Setups) { _ =>
      prev.foreach(_.unpersist())
      val t0 = System.nanoTime()
      val ix = Ivf.build(vectors, col("vector"), Cells,
        maxTrainRows = TrainRows)
      val t1 = System.nanoTime()
      val p = Ivf.pack(ix)
      buildS = (t1 - t0) / 1e9
      packS = (System.nanoTime() - t1) / 1e9
      prev = Some(p)
      p
    }
    val cellSizes: Map[Int, Long] = if (ctx.trace) {
      val sizes = px.blocks.map(b => (b.cell, b.ids.length.toLong)).collect()
      ctx.layer("ann.build_s") = buildS
      ctx.layer("ann.pack_s") = packS
      ctx.layer("ann.packed_bytes_per_vector_byte") =
        sizes.map(_._2 * (8L + 8L + 4L * Dims)).sum.toDouble /
          (Rows.toDouble * Dims * 4)
      sizes.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
    } else Map.empty

    val qSchema = StructType(Seq(StructField("query_id", IntegerType),
      StructField("query_vector", ArrayType(FloatType))))
    def packed(qs: Seq[(Int, Array[Float])]): Map[Int, Seq[(Long, Double)]] =
      Ivf.batchSearchPacked(px, qs, 10, Nprobe).collect()
        .groupBy(_.getAs[Int]("query_id"))
        .map { case (q, rs) =>
          q -> rs.map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance")))
            .sortBy(x => (x._2, x._1)).toSeq
        }
    def exact(qs: Seq[(Int, Array[Float])]): Map[Int, Seq[(Long, Double)]] = {
      val qdf = spark.createDataFrame(
        java.util.Arrays.asList(qs.map { case (i, v) => Row(i, v.toSeq) }: _*),
        qSchema)
      Search.batchTopKPairs(vectors, qdf, 10).collect()
        .groupBy(_.getAs[Int]("query_id"))
        .map { case (q, rs) =>
          q -> rs.map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance")))
            .sortBy(x => (x._2, x._1)).toSeq
        }
    }
    def batchOf(n: Int): Seq[(Int, Array[Float])] =
      (0 until n).map(i => (i, pool(ctx.rng.nextInt(Pool))))

    // warm-up: the same alternation, untimed
    val warmEnd = System.nanoTime() + WarmCapSeconds * 1000000000L
    var warmed = 0
    while (warmed < WarmRounds && System.nanoTime() < warmEnd) {
      packed(batchOf(PackedBatch))
      exact(batchOf(ExactBatch))
      warmed += 1
    }
    ctx.extra("warmup_rounds") = warmed

    val recalls = mutable.ArrayBuffer.empty[Double]
    // (record, checked queries, their answers, exact?) of every ok batch,
    // checked after the timed phase
    val checks = mutable.ArrayBuffer.empty[(Outcomes.Rec, Seq[Array[Float]],
      Seq[RestClient.Hits], Boolean)]
    def keep(rec: Outcomes.Rec, qs: Seq[(Int, Array[Float])],
             answers: Map[Int, Seq[(Long, Double)]], isExact: Boolean): Unit = {
      val sample = qs.indices.by(CheckEvery).map(qs)
      checks += ((rec, sample.map(_._2), sample.map { case (i, _) =>
        val hs = answers.getOrElse(i, Nil)
        RestClient.Hits(hs.map(_._1).toArray, hs.map(_._2).toArray)
      }, isExact))
    }
    val probeMs = mutable.ArrayBuffer.empty[Double]
    val evals = mutable.ArrayBuffer.empty[Double]
    var queries = 0L
    var n = 0
    var replayNs = 0L
    ctx.mark("setup_and_warmup")
    val deadline = ctx.deadline
    val start = System.nanoTime()
    while (System.nanoTime() < deadline) {
      n += 1
      val qs = batchOf(PackedBatch)
      val ann = ctx.outcomes.attempt("packed_batch")(
        ctx.tagged(s"packed_batch#$n")(
          ctx.spans.span("ann.packed_batch", s"packed_batch#$n")(packed(qs))))(
        _.size == PackedBatch).map { case (rec, a) =>
        queries += PackedBatch
        keep(rec, qs, a, isExact = false)
        a
      }
      if (ctx.trace) {
        val r0 = System.nanoTime()
        ctx.spans.span("ann.probe", s"replay.packed_batch#$n") {
          qs.foreach { case (_, q) =>
            Ivf.probeCells(px.centroids, px.metric, q, Nprobe)
          }
        }
        probeMs += ctx.spans.durations("ann.probe").last
        evals += qs.map { case (_, q) =>
          Ivf.probeCells(px.centroids, px.metric, q, Nprobe)
            .map(c => cellSizes.getOrElse(c, 0L)).sum
        }.sum.toDouble
        replayNs += System.nanoTime() - r0
      }
      val eqs = qs.take(ExactBatch)
      ctx.outcomes.attempt("exact_batch")(
        ctx.tagged(s"exact_batch#$n")(
          ctx.spans.span("ops.exact_batch", s"exact_batch#$n")(exact(eqs))))(
        _.size == ExactBatch).foreach { case (rec, truth) =>
        queries += ExactBatch
        keep(rec, eqs, truth, isExact = true)
        ann.foreach { a =>
          eqs.foreach { case (i, _) =>
            recalls += Check.recall(a(i).map(_._1), truth(i).map(_._1))
          }
        }
      }
    }
    val wallS = (System.nanoTime() - start - replayNs) / 1e9
    ctx.mark("timed")
    ctx.recordHeap()

    // exact batches must equal the driver's brute force on sampled
    // queries; packed hits must carry their rows' true distances. The
    // brute force is built only now, so the heap reading leaves it out.
    val corpus = Data.corpus(Rows, Dims, ctx.seed)
    val verdicts = new Array[Option[String]](checks.size)
    java.util.stream.IntStream.range(0, checks.size).parallel().forEach { j =>
      val (_, qs, answers, isExact) = checks(j)
      verdicts(j) = qs.iterator.zip(answers.iterator).map { case (q, h) =>
        val hits = h.pairs
        if (isExact)
          Check.exact(hits, corpus.topK(q, 10), corpus, q, _ => true)
        else hits.collectFirst {
          case (id, d) if !corpus.contains(id) ||
              math.abs(corpus.distance(id, q) - d) > Check.Tol =>
            s"packed hit $id distance $d is not its true distance"
        }
      }.collectFirst { case Some(w) => w }
    }
    checks.indices.foreach(j =>
      verdicts(j).foreach(w => ctx.outcomes.wrong(checks(j)._1, w)))
    ctx.mark("checks")

    ctx.latency("packed_batch").foreach(ctx.e2e("ann_p50_ms") = _)
    ctx.latency("exact_batch").foreach(ctx.e2e("exact_p50_ms") = _)
    if (recalls.nonEmpty)
      ctx.e2e("ann_recall_at_10") = recalls.sum / recalls.size
    ctx.e2e("throughput_per_s") = queries / wallS
    val pk = ctx.outcomes.samples("packed_batch")
    val ex = ctx.outcomes.samples("exact_batch")
    if (pk.nonEmpty)
      ctx.extra("ann_batch_qps") = PackedBatch * pk.length / (pk.sum / 1000)
    if (ex.nonEmpty)
      ctx.extra("exact_batch_qps") = ExactBatch * ex.length / (ex.sum / 1000)

    if (ctx.trace) {
      val aggs = ctx.ledger.aggregates(ctx.sc)
      for (op <- Seq("packed_batch", "exact_batch")) {
        val a = aggs.collect { case (t, g) if t.startsWith(op + "#") => g }
          .toArray
        if (a.nonEmpty) {
          def med(f: Ledger.Agg => Double) = Stats.median(a.map(f))
          ctx.layer(s"spark.jobs.$op") = med(_.jobs.toDouble)
          ctx.layer(s"spark.tasks.$op") = med(_.tasks.toDouble)
          ctx.layer(s"spark.task_busy_ms.$op") = med(_.taskBusyMs.toDouble)
          ctx.layer(s"spark.sched_wait_ms.$op") = med(_.schedWaitMs.toDouble)
          if (op == "exact_batch") {
            ctx.layer("spark.shuffle_read_bytes.exact_batch") =
              med(_.shuffleReadBytes.toDouble)
            ctx.layer("spark.shuffle_write_bytes.exact_batch") =
              med(_.shuffleWriteBytes.toDouble)
          }
        }
      }
      ctx.layer("spark.gc_ms") = aggs.values.map(_.gcMs).sum.toDouble
      if (pk.nonEmpty) ctx.layer("ann.packed_batch_ms") = Stats.median(pk)
      if (probeMs.nonEmpty)
        ctx.layer("ann.probe_ms") = Stats.median(probeMs.toArray)
      if (evals.nonEmpty) {
        val e = Stats.median(evals.toArray)
        ctx.layer("functions.distance_evals.packed_batch") = e
        ctx.layer("ann.candidates_per_query") = e / PackedBatch
        ctx.layer("ann.scan_fraction") = e / PackedBatch / Rows
      }
      ctx.layer("functions.distance_evals.exact_batch") =
        Rows.toDouble * ExactBatch
      ctx.layer("spark.storage_bytes") = Ctx.storageBytes(ctx)
      ctx.layer("spark.stored_bytes_per_user_byte") =
        ctx.layer("spark.storage_bytes") / (Rows.toDouble * Dims * 4)
    }
  }
}
