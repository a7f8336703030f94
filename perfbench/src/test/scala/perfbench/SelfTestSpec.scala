package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.RestApi

/** Plants a fault in the engine's REST surface and checks that the
  * benchmark catches it: a throwing operation counts as an error and is
  * not timed, an extra Spark job shows in the request's job count, and a
  * wrong result fails its output check.
  */
class SelfTestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = Main.session()
  private val tiny = Serve.Shape(rows = 600, dims = 16, pool = 40,
    setups = 1, warmRounds = 2)

  override def afterAll(): Unit = spark.stop()

  /** One short serve run with the REST surface `api` builds. */
  private def serve(trace: Boolean)(api: SparkSession => RestApi): Ctx = {
    val ctx = new Ctx(spark, "serve", seed = 7L, seconds = 3, trace = trace)
    ctx.newApi = api
    Serve.run(ctx, tiny)
    ctx
  }

  private def byOp(ctx: Ctx, op: String, outcome: String): Int =
    ctx.outcomes.summary("by_op").asInstanceOf[Map[String, Map[String, Int]]]
      .get(op).map(_(outcome)).getOrElse(0)

  test("the driver-side generator equals its Spark expression") {
    val seed = 11L
    val rows = Data.sql(spark, 0, 20, 16, seed).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getSeq[Float](1) == Data.vector(id, 16, seed).toSeq)
      assert(r.getInt(2) == Data.label(id, seed))
    }
  }

  test("a clean run passes every check") {
    val ctx = serve(trace = false)(new RestApi(_))
    assert(ctx.outcomes.failed == 0, ctx.outcomes.summary("failures"))
    assert(Serve.Ops.forall(op => ctx.outcomes.samples(op).nonEmpty))
    assert(ctx.e2e.contains("exact_p50_ms"))
  }

  test("a planted throwing operation is an error with no latency sample") {
    val ctx = serve(trace = false) { s =>
      new RestApi(s) {
        override def handle(method: String, path: String,
                            body: String): (Int, String) =
          if (path.endsWith("/count")) throw new RuntimeException("planted")
          else super.handle(method, path, body)
      }
    }
    assert(byOp(ctx, "count", "error") > 0)
    assert(byOp(ctx, "count", "ok") == 0)
    assert(ctx.outcomes.samples("count").isEmpty)
    assert(!ctx.extra.contains("latency.count"))
    assert(ctx.outcomes.errorRatio > 0.0)
    assert(byOp(ctx, "exact", "error") == 0)
  }

  test("a planted extra Spark job raises the operation's job count") {
    val clean = serve(trace = true)(new RestApi(_))
    val planted = serve(trace = true) { s =>
      new RestApi(s) {
        override def handle(method: String, path: String,
                            body: String): (Int, String) = {
          if (path.endsWith("/search") && !body.contains("\"mode\""))
            s.sparkContext.parallelize(1 to 10, 1).count() // one job
          super.handle(method, path, body)
        }
      }
    }
    assert(planted.layer("spark.jobs.exact") ==
      clean.layer("spark.jobs.exact") + 1)
    assert(planted.layer("spark.jobs.count") ==
      clean.layer("spark.jobs.count"))
    assert(Serve.Layers.filterNot(clean.layer.contains).isEmpty)
  }

  test("a planted wrong result fails its output check") {
    val ctx = serve(trace = false) { s =>
      new RestApi(s) {
        // the exact results' first hit points at another row
        override def handle(method: String, path: String,
                            body: String): (Int, String) = {
          val (status, resp) = super.handle(method, path, body)
          if (path.endsWith("/search") && !body.contains("\"mode\"") &&
              !body.contains("\"filter\""))
            (status, resp.replaceFirst("\"id\":\"(\\d+)\"", "\"id\":\"0\""))
          else (status, resp)
        }
      }
    }
    assert(byOp(ctx, "exact", "wrong") > 0)
    assert(byOp(ctx, "filtered", "wrong") == 0)
    assert(ctx.outcomes.samples("exact").length == byOp(ctx, "exact", "ok"))
    assert(!ctx.outcomes.summary("failures").asInstanceOf[Seq[String]].isEmpty)
  }
}
