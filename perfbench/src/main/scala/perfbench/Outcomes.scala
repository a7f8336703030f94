package perfbench

import scala.collection.mutable

/** Every attempted operation and how it ended. Only `ok` operations give
  * latency samples: an operation that threw or returned a non-2xx status
  * is an `error`, one that failed its output check is `wrong`, and
  * neither is timed as if it were a normal run.
  */
final class Outcomes {
  import Outcomes._

  val recs = mutable.ArrayBuffer.empty[Rec]

  /** Times `call`; an exception or a result `accept` refuses makes the
    * attempt an error. Returns the record and the result when it is ok.
    */
  def attempt[T](op: String)(call: => T)(accept: T => Boolean)
      : Option[(Rec, T)] = {
    val t0 = System.nanoTime()
    val res = try Right(call) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Right(v) if accept(v) =>
        val r = new Rec(op, ms, Ok, ""); recs += r; Some((r, v))
      case Right(v) =>
        recs += new Rec(op, ms, Error, String.valueOf(v).take(200)); None
      case Left(e) =>
        recs += new Rec(op, ms, Error, e.toString.take(200)); None
    }
  }

  /** Marks an ok record as having failed its output check. */
  def wrong(r: Rec, why: String): Unit = if (r.status == Ok) {
    r.status = Wrong; r.note = why.take(200)
  }

  def samples(op: String): Array[Double] =
    recs.iterator.filter(r => r.op == op && r.status == Ok).map(_.ms).toArray

  def count(status: Int): Long = recs.count(_.status == status).toLong
  def attempted: Long = recs.size.toLong
  def failed: Long = count(Error) + count(Wrong)
  def errorRatio: Double =
    if (recs.isEmpty) 0.0 else failed.toDouble / attempted

  /** Per-op counts by outcome, and the first few failure notes. */
  def summary: Map[String, Any] = Map(
    "attempted" -> attempted, "ok" -> count(Ok), "error" -> count(Error),
    "wrong" -> count(Wrong), "error_ratio" -> errorRatio,
    "by_op" -> recs.groupBy(_.op).map { case (op, rs) =>
      op -> Map("attempted" -> rs.size, "ok" -> rs.count(_.status == Ok),
        "error" -> rs.count(_.status == Error),
        "wrong" -> rs.count(_.status == Wrong))
    },
    "failures" -> recs.filter(_.status != Ok).take(10)
      .map(r => s"${r.op}: ${r.note}").toSeq)
}

object Outcomes {
  val Ok = 0
  val Error = 1
  val Wrong = 2

  final class Rec(val op: String, val ms: Double, var status: Int,
                  var note: String)
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 100]) of `xs`. */
  def pct(xs: Array[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Array[Double]): Double = pct(xs, 50)

  /** The highest of the usual percentiles with at least ten samples
    * beyond it, as (percentile, value); None below 20 samples.
    */
  def tail(xs: Array[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.length * (100.0 - p) / 100.0 >= 10.0)
      .map(p => (p, pct(xs, p)))
}

/** Spans kept in memory: name, interval, parent and request id. */
final class Trace(val enabled: Boolean) {
  import Trace._
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String, req: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val s = new Span(id, parent, name, req, System.nanoTime())
      spans += s
      stack = id :: stack
      try f finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** Durations (ms) of every span called `name`. */
  def durations(name: String): Array[Double] =
    spans.iterator.filter(_.name == name).map(_.ms).toArray

  /** Per span name: total self time in ms (duration minus the part of it
    * its child spans cover).
    */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start - Intervals.unionLength(kids.toSeq, s.start, s.end)) / 1e6
      }.sum
    }
  }
}

object Trace {
  final class Span(val id: Int, val parent: Int, val name: String,
                   val req: String, val start: Long) {
    var end: Long = start
    def ms: Double = (end - start) / 1e6
  }
}
