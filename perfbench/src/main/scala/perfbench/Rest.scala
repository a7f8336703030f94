package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.{Ivf, LocalServe}
import graft.filter.{Filter, FilterCompiler}
import graft.ops.Search
import graft.server.RestApi

/** The closed-loop client: one caller that sends its next request only
  * after the previous reply, every request through `RestApi.handle`.
  * In a traced run each request's Spark jobs are tagged with its own id,
  * and [[replay]] repeats a request's layer calls one by one so the
  * driver time can be split further.
  */
final class RestClient(ctx: Ctx, api: RestApi, coll: String) {
  import RestClient._

  val mapper = new ObjectMapper()
  private var n = 0
  private val traced = mutable.ArrayBuffer.empty[Req]
  /** Rows scanned per returned row, per op, from the replays' plans. */
  private val scanned =
    mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** `POST /collections/<coll>/<route>`, timed as op `op`; the record
    * and the parsed reply when the status is 2xx.
    */
  def post(op: String, route: String,
           body: String): Option[(Outcomes.Rec, JsonNode)] = {
    n += 1
    val tag = s"$op#$n"
    val path = s"/collections/$coll/$route"
    val t0 = System.currentTimeMillis()
    val res = ctx.outcomes.attempt(op)(ctx.tagged(tag)(
      ctx.spans.span(s"server.$op", tag)(api.handle("POST", path, body))))(
      r => r._1 / 100 == 2)
    val t1 = System.currentTimeMillis()
    res.map { case (rec, (_, json)) =>
      if (ctx.trace) traced += Req(op, tag, t0, t1, rec.ms, json.length)
      (rec, mapper.readTree(json))
    }
  }

  /** Request-level Spark attribution of a traced run, per op: jobs,
    * stages, tasks, job time, scheduler wait, task time and the driver
    * time left once the request's job intervals are taken out.
    */
  def attribute(ops: Seq[String]): Unit = {
    val aggs = ctx.ledger.aggregates(ctx.sc)
    val none = new Ledger.Agg
    ops.foreach { op =>
      val rs = traced.filter(_.op == op).toArray
      if (rs.nonEmpty) {
        val a = rs.map(r => aggs.getOrElse(r.tag, none))
        val jobMs = rs.zip(a).map { case (r, g) =>
          Intervals.unionLength(g.jobIntervals, r.t0 - 1, r.t1 + 1).toDouble
        }
        def med(f: Ledger.Agg => Double) = Stats.median(a.map(f))
        ctx.layer(s"server.driver_ms.$op") = Stats.median(
          rs.zip(jobMs).map { case (r, j) => math.max(0.0, r.ms - j) })
        ctx.layer(s"server.response_bytes.$op") =
          Stats.median(rs.map(_.bytes.toDouble))
        ctx.layer(s"spark.jobs.$op") = med(_.jobs.toDouble)
        ctx.layer(s"spark.stages.$op") = med(_.stages.toDouble)
        ctx.layer(s"spark.tasks.$op") = med(_.tasks.toDouble)
        ctx.layer(s"spark.job_ms.$op") = Stats.median(jobMs)
        ctx.layer(s"spark.sched_wait_ms.$op") = med(_.schedWaitMs.toDouble)
        ctx.layer(s"spark.task_busy_ms.$op") = med(_.taskBusyMs.toDouble)
      }
    }
    ctx.layer("spark.gc_ms") = traced.map(r => aggs.get(r.tag)
      .map(_.gcMs).getOrElse(0L)).sum.toDouble
  }

  /** Repeats an exact, filtered, count or batch request's layer calls
    * one at a time: Jackson parse, `Filter.parse`,
    * `FilterCompiler.compile`, the `Search` build, planning and the
    * collect, each in its own span. `base` is the registered rows.
    */
  def replay(op: String, base: DataFrame, body: String,
             filter: Option[String], query: Either[Array[Float],
               Seq[Array[Float]]]): Unit = {
    n += 1
    val tag = s"replay.$op#$n"
    val tr = ctx.spans
    tr.span(s"replay.$op", tag) {
      tr.span(s"server.parse.$op", tag)(mapper.readTree(body))
      val live = base.filter(col("ttl_expires_at").isNull ||
        col("ttl_expires_at") > System.currentTimeMillis() / 1000L)
      val rows = filter.fold(live) { fj =>
        val f = tr.span("filter.parse", tag)(Filter.parse(fj))
        val c = tr.span("filter.compile", tag)(FilterCompiler.compile(f,
          (p: String) => FilterCompiler.schemaResolver(base.schema)(
            s"metadata.$p")))
        live.filter(c)
      }
      val df = tr.span(s"ops.build.$op", tag) {
        val d = query match {
          case _ if op == "count" => rows.groupBy().count()
          case Left(q) => Search.topK(rows, col("vector"), lit(q), K)
          case Right(qs) =>
            val spark = ctx.spark
            import spark.implicits._
            val qdf = qs.zipWithIndex.map { case (v, i) => (i, v) }
              .toDF("query_id", "query_vector")
            Search.batchTopK(rows, qdf, K)
        }
        d.queryExecution.analyzed
        d
      }
      tr.span(s"spark.plan.$op", tag)(df.queryExecution.executedPlan)
      val out = tr.span(s"spark.collect.$op", tag)(ctx.tagged(tag)(df.collect()))
      if (out.nonEmpty) scanned.getOrElseUpdate(op,
        mutable.ArrayBuffer.empty[Double]) += scanRows(df).toDouble / out.length
    }
  }

  /** Rows the executed plan's leaf scans produced. */
  private def scanRows(df: DataFrame): Long =
    PlanLeaves.collectLeaves(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  /** Median replayed durations per layer call, as per-layer metrics. */
  def replayMetrics(ops: Seq[String]): Unit = {
    def med(name: String): Option[Double] = {
      val xs = ctx.spans.durations(name)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    ops.foreach { op =>
      med(s"spark.plan.$op").foreach(ctx.layer(s"spark.plan_ms.$op") = _)
      if (op == "exact" || op == "filtered")
        med(s"ops.build.$op").foreach(ctx.layer(s"ops.build_ms.$op") = _)
    }
    Seq("exact", "filtered").foreach { op =>
      val xs = scanned.getOrElse(op, mutable.ArrayBuffer.empty[Double])
      if (xs.nonEmpty)
        ctx.layer(s"spark.rows_scanned_per_result.$op") = Stats.median(xs.toArray)
    }
    med("filter.parse").foreach(v => ctx.layer("filter.parse_us") = v * 1e3)
    med("filter.compile").foreach(v =>
      ctx.layer("filter.compile_us") = v * 1e3)
  }
}

/** Walks a physical plan, adaptive stages included. */
object PlanLeaves
  extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

object RestClient {
  val K = 10

  final case class Req(op: String, tag: String, t0: Long, t1: Long,
                       ms: Double, bytes: Int)

  def vecJson(v: Array[Float]): String = v.mkString("[", ",", "]")

  /** A hit list as parallel id and distance arrays. */
  final case class Hits(ids: Array[Long], dists: Array[Double]) {
    def pairs: Seq[(Long, Double)] = ids.toSeq.zip(dists)
  }

  /** The ids and distances of a search response's `results`. */
  def hits(results: JsonNode): Hits = {
    val n = results.size
    val h = Hits(new Array[Long](n), new Array[Double](n))
    (0 until n).foreach { i =>
      val r = results.get(i)
      h.ids(i) = r.get("id").asText().toLong
      h.dists(i) = r.get("distance").asDouble()
    }
    h
  }

  /** The registered collection's rows: the four columns `RestApi`
    * serves, ids as strings, the label inside the metadata JSON.
    */
  def collectionRows(vectors: DataFrame): DataFrame =
    vectors.select(col("id").cast("string").as("id"), col("vector"),
      to_json(struct(col("label"))).as("metadata"),
      lit(null).cast("long").as("ttl_expires_at"))

  /** The benchmark's own in-process ANN snapshot over the same rows, for
    * calling `LocalServe` directly: (index, build s, snapshot s).
    */
  def localIndex(vectors: DataFrame, cells: Int)
      : (LocalServe.LocalIndex, Double, Double) = {
    val t0 = System.nanoTime()
    val ix = Ivf.build(vectors, col("vector"), cells)
    val t1 = System.nanoTime()
    val li = LocalServe.fromIndex(ix)
    val t2 = System.nanoTime()
    (li, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Rows an ANN query scores: the sizes of its probed cells. */
  def candidates(li: LocalServe.LocalIndex, q: Array[Float],
                 nprobe: Int): Long =
    Ivf.probeCells(li.centroids, li.metric, q, nprobe)
      .map(c => li.cellIds(c).length.toLong).sum
}
