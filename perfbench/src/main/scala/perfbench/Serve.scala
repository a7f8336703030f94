package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode

import graft.ann.LocalServe
import graft.server.RestApi

/** `serve`: a registered, persisted and indexed collection answering
  * reads through `RestApi.handle` — ann-mode search, exact search, exact
  * search under a 10%-selective metadata filter, batch search of 100
  * vectors, and filtered `/count`. Like the reference's serving figures,
  * each op has figures of its own; ops share the timed window by time,
  * not by an assumed traffic mix.
  */
object Serve {
  /** Collection rows and dimensions, held-out query pool size, how many
    * times set-up runs, and the untimed warm-up: `warmRounds` rounds of
    * `warmAnn` ann requests and one exact, filtered and count request,
    * with a batch request every `warmBatchEvery` rounds, stopped early
    * after `warmCapSeconds`.
    * Spark-backed requests keep getting faster for a few hundred requests
    * while the JIT compiles the engine's planning path. A count rather
    * than a time puts every run at the same point of that curve, where a
    * timed warm-up would measure a slow host earlier on it, and so even
    * slower.
    */
  final case class Shape(rows: Int = 10000, dims: Int = 384,
                         pool: Int = 1000, setups: Int = 3,
                         warmRounds: Int = 20, warmAnn: Int = 40,
                         warmBatchEvery: Int = 10, warmCapSeconds: Int = 40)
  val BatchSize = 100
  val Ops = Seq("ann", "exact", "filtered", "batch", "count")
  /** Shares of the timed window's time. Each request is timed on its
    * own, so a share sets only how many requests an op's figures rest
    * on, not what they measure. The ops with end-to-end figures get the
    * most: exact requests take about 90 ms and batch requests about a
    * second, so these shares give each a few dozen or a few samples; ann
    * requests take about a millisecond and get two thousand samples from
    * two shares.
    */
  val Shares: Map[String, Int] =
    Map("ann" -> 2, "exact" -> 6, "filtered" -> 1, "batch" -> 5, "count" -> 1)
  /** Rounds the timed window is taken in: the host's speed drifts within
    * seconds, and more rounds spread each op over more of it.
    */
  val Rounds = 20
  /** Every batch reply's result lists that are checked. */
  val CheckedInBatch: Seq[Int] = 0 until BatchSize by 34

  /** Per-layer metrics a traced run produces. */
  val Layers: Seq[String] = Ops.flatMap(op => Seq("server.driver_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_ms",
    "spark.sched_wait_ms", "spark.task_busy_ms").map(m => s"$m.$op")) ++
    Ops.filter(_ != "ann").map(op => s"spark.plan_ms.$op") ++
    Seq("exact", "filtered").flatMap(op => Seq(s"ops.build_ms.$op",
      s"spark.rows_scanned_per_result.$op")) ++
    Seq("server.response_bytes.exact", "server.response_bytes.batch",
      "filter.parse_us", "filter.compile_us", "filter.selectivity",
      "spark.gc_ms", "spark.storage_bytes", "spark.stored_bytes_per_user_byte",
      "ann.search_us", "ann.candidates_per_query", "ann.scan_fraction",
      "ann.build_s", "ann.snapshot_s")

  /** A reply cut down to what its check needs: the checked queries and
    * their hit lists, and the reply's count or number of result lists.
    */
  private final case class Pending(rec: Outcomes.Rec, op: String,
                                   qs: Seq[Array[Float]],
                                   hits: Seq[RestClient.Hits], n: Long)

  def run(ctx: Ctx): Unit = run(ctx, Shape())

  def run(ctx: Ctx, shape: Shape): Unit = {
    import shape._
    val spark = ctx.spark
    val vectors = Data.frame(spark, rows, dims, ctx.seed, ctx.cpus)
    // the traced run's own snapshot reads `vectors`; cached, its build
    // times the engine and not the generator
    if (ctx.trace) vectors.persist().count()
    val table = RestClient.collectionRows(vectors).persist()
    table.count()
    val queries = Data.queries(rows, pool, dims, ctx.seed)

    ctx.mark("inputs")
    val api = ctx.setups(setups) { _ =>
      val api = ctx.newApi(spark)
      api.register("c", table, dims)
      val (status, body) = api.handle("POST", "/collections/c/index", "")
      require(status == 200, s"index build failed: $body")
      api
    }
    val client = new RestClient(ctx, api, "c")
    // the index the REST defaults built; the benchmark's own snapshot
    // for direct LocalServe calls is built over the same vectors with the
    // same cell count and nprobe, keyed by the collection's ids
    val index = client.mapper.readTree(
      api.handle("GET", "/collections/c/index", "")._2)
    val cells = index.get("num_cells").asInt()
    val nprobe = index.get("nprobe").asInt()
    ctx.extra("index") = index.toString
    val own = if (ctx.trace) {
      val (li, buildS, snapS) =
        RestClient.localIndex(vectors, cells)
      ctx.layer("ann.build_s") = buildS
      ctx.layer("ann.snapshot_s") = snapS
      Some(li)
    } else None

    def body(op: String, q: Seq[Array[Float]]): (String, String) = op match {
      case "ann" => ("search",
        s"""{"vector":${RestClient.vecJson(q.head)},"k":10,"mode":"ann"}""")
      case "exact" => ("search",
        s"""{"vector":${RestClient.vecJson(q.head)},"k":10}""")
      case "filtered" => ("search",
        s"""{"vector":${RestClient.vecJson(q.head)},"k":10,""" +
          s""""filter":${Data.FilterJson}}""")
      case "batch" => ("search/batch",
        q.map(RestClient.vecJson).mkString("""{"vectors":[""", ",",
          """],"k":10}"""))
      case "count" => ("count", s"""{"filter":${Data.FilterJson}}""")
    }
    def queriesFor(op: String): Seq[Array[Float]] =
      if (op == "batch") Seq.fill(BatchSize)(queries(ctx.rng.nextInt(pool)))
      else Seq(queries(ctx.rng.nextInt(pool)))

    val pending = mutable.ArrayBuffer.empty[Pending]
    def keep(op: String, qs: Seq[Array[Float]])(
        r: (Outcomes.Rec, JsonNode)): Unit = {
      val (rec, js) = r
      pending += (op match {
        case "count" => Pending(rec, op, Nil, Nil, js.get("count").asLong())
        case "batch" =>
          val res = js.get("results")
          val ks = CheckedInBatch.filter(_ < res.size)
          Pending(rec, op, ks.map(qs), ks.map(k => RestClient.hits(res.get(k))),
            res.size)
        case _ => Pending(rec, op, qs, Seq(RestClient.hits(js.get("results"))), 1)
      })
    }

    // recall over the whole held-out pool, untimed, so it does not hang
    // on which queries the timed phase drew; answers are checked as usual.
    // It also warms the ann path.
    queries.foreach { q =>
      client.post("ann_recall", "search", body("ann", Seq(q))._2)
        .foreach(keep("ann_recall", Seq(q)))
    }
    // warm-up, untimed, in rounds of the ops the timed phase interleaves;
    // a failing op fails again, and is counted, when timed
    val warmEnd = System.nanoTime() + warmCapSeconds * 1000000000L
    var warmed = 0
    while (warmed < warmRounds && System.nanoTime() < warmEnd) {
      val ops = Seq.fill(warmAnn)("ann") ++ Seq("exact", "filtered", "count") ++
        (if (warmed % warmBatchEvery == 0) Seq("batch") else Nil)
      ops.foreach { op =>
        val (route, b) = body(op, queriesFor(op))
        scala.util.Try(api.handle("POST", s"/collections/c/$route", b))
      }
      warmed += 1
    }
    ctx.extra("warmup_rounds") = warmed
    val annUs = mutable.ArrayBuffer.empty[Double]
    val cands = mutable.ArrayBuffer.empty[Double]
    ctx.mark("setup_and_warmup")
    // timed: in each of the rounds every op in turn runs until its
    // requests have used its share of the window so far; so every op is
    // spread across the whole window. A traced run's replays are not
    // counted against the window.
    val usedNs = mutable.Map(Ops.map(_ -> 0L): _*)
    var i = 0
    for (r <- 1 to Rounds; op <- Ops) {
      val budgetNs = ctx.seconds * 1000000000.0 * Shares(op) /
        Shares.values.sum * r / Rounds
      while (usedNs(op) < budgetNs) {
        i += 1
        val t0 = System.nanoTime()
        val qs = queriesFor(op)
        val (route, b) = body(op, qs)
        client.post(op, route, b).foreach(keep(op, qs))
        usedNs(op) += System.nanoTime() - t0
        if (ctx.trace) op match {
          case "ann" => own.foreach { li =>
            val n0 = System.nanoTime()
            ctx.spans.span("ann.search", s"replay.ann#$i")(
              LocalServe.search(li, qs.head, 10, nprobe))
            annUs += (System.nanoTime() - n0) / 1e3
            cands += RestClient.candidates(li, qs.head, nprobe)
          }
          case _ =>
            client.replay(op, table, b,
              if (op == "filtered" || op == "count") Some(Data.FilterJson)
              else None,
              if (op == "batch") Right(qs) else Left(qs.head))
        }
      }
    }
    ctx.mark("timed")
    ctx.recordHeap()

    // output checks against the driver's brute-force top-k, built only
    // now so that the heap reading leaves it out
    val corpus = Data.corpus(rows, dims, ctx.seed)
    val recalls = new Array[Double](pending.size)
    val verdicts = new Array[Option[String]](pending.size)
    java.util.stream.IntStream.range(0, pending.size).parallel().forEach { j =>
      val p = pending(j)
      recalls(j) = Double.NaN
      verdicts(j) = p.op match {
        case "exact" =>
          val q = p.qs.head
          Check.exact(p.hits.head.pairs, corpus.topK(q, 10), corpus, q,
            _ => true)
        case "filtered" =>
          val q = p.qs.head
          val pred = (l: Int) => l < Data.FilterLabel
          Check.exact(p.hits.head.pairs, corpus.topK(q, 10, pred), corpus, q,
            id => pred(corpus.label(id)))
        case "ann" | "ann_recall" =>
          val q = p.qs.head
          val hs = p.hits.head.pairs
          if (p.op == "ann_recall")
            recalls(j) = Check.recall(hs.map(_._1),
              corpus.topK(q, 10).map(_._1).toSeq)
          hs.collectFirst {
            case (id, d) if !corpus.contains(id) ||
                math.abs(corpus.distance(id, q) - d) > Check.Tol =>
              s"ann hit $id distance $d is not its true distance"
          }
        case "batch" =>
          if (p.n != BatchSize) Some(s"${p.n} result lists")
          else p.qs.zip(p.hits).iterator.map { case (q, hs) =>
            Check.exact(hs.pairs, corpus.topK(q, 10), corpus, q, _ => true)
          }.collectFirst { case Some(w) => w }
        case "count" =>
          val want = corpus.countWhere(_ < Data.FilterLabel)
          if (p.n == want) None else Some(s"count ${p.n}, expected $want")
      }
    }
    pending.indices.foreach(j =>
      verdicts(j).foreach(w => ctx.outcomes.wrong(pending(j).rec, w)))
    ctx.mark("checks")

    val annRecall = recalls.filterNot(_.isNaN)
    val p50 = Ops.flatMap(op => ctx.latency(op).map(op -> _)).toMap
    p50.get("ann").foreach(ctx.e2e("ann_p50_ms") = _)
    p50.get("exact").foreach(ctx.e2e("exact_p50_ms") = _)
    if (annRecall.nonEmpty)
      ctx.e2e("ann_recall_at_10") = annRecall.sum / annRecall.length
    p50.get("filtered").foreach(ctx.extra("filtered_search_p50_ms") = _)
    // query vectors per second through `/search/batch`, at the median
    // batch request
    p50.get("batch").foreach(ms => ctx.e2e("throughput_per_s") =
      BatchSize / (ms / 1000.0))

    if (ctx.trace) {
      client.attribute(Ops)
      client.replayMetrics(Ops)
      if (annUs.nonEmpty) {
        ctx.layer("ann.search_us") = Stats.median(annUs.toArray)
        ctx.layer("ann.candidates_per_query") = Stats.median(cands.toArray)
        ctx.layer("ann.scan_fraction") =
          ctx.layer("ann.candidates_per_query") / rows
      }
      pending.find(_.op == "count").foreach(p =>
        ctx.layer("filter.selectivity") = p.n.toDouble / rows)
      ctx.layer("spark.storage_bytes") = Ctx.storageBytes(ctx)
      ctx.layer("spark.stored_bytes_per_user_byte") =
        ctx.layer("spark.storage_bytes") / (rows.toDouble * dims * 4)
    }
  }
}
