package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded inputs: BaselineBench's clustered generator (1000 centers, 15%
  * noise, xxhash64) with the workload seed folded into every hash, plus
  * a `label` in [0, 100) that gives the 10%-selective metadata filter.
  * Row ids at or beyond the collection size are held-out query vectors,
  * never members of the collection.
  *
  * [[sql]] states the generator as a Spark expression; [[vector]] and
  * [[label]] compute the same values in plain Scala with Spark's own
  * XXH64, which is far faster than the interpreted lambda.
  */
object Data {
  val Centers = 1000
  /** Labels below this pass the benchmark's metadata filter (10%). */
  val FilterLabel = 10
  val FilterJson: String = s"""{"label":{"$$lt":$FilterLabel}}"""
  /** Spark's default seed for `xxhash64`. */
  private val HashSeed = 42L

  private def unit(h: Long): Double =
    java.lang.Math.floorMod(h, 1000000L) / 500000.0 - 1.0

  def vector(id: Long, dims: Int, seed: Long): Array[Float] = {
    val center = java.lang.Math.floorMod(XXH64.hashInt(1,
      XXH64.hashLong(seed, XXH64.hashLong(id, HashSeed))), Centers.toLong)
    Array.tabulate(dims) { j =>
      val c = XXH64.hashInt(3, XXH64.hashLong(seed,
        XXH64.hashInt(j, XXH64.hashLong(center, HashSeed))))
      val noise = XXH64.hashInt(7, XXH64.hashLong(seed,
        XXH64.hashInt(j, XXH64.hashLong(id, HashSeed))))
      (unit(c) + 0.15 * unit(noise)).toFloat
    }
  }

  def label(id: Long, seed: Long): Int =
    java.lang.Math.floorMod(XXH64.hashInt(5,
      XXH64.hashLong(seed, XXH64.hashLong(id, HashSeed))), 100L).toInt

  /** The generator as a Spark expression over ids [from, until). */
  def sql(spark: SparkSession, from: Long, until: Long, dims: Int,
          seed: Long): DataFrame =
    spark.range(from, until).select(col("id"),
      expr(s"""transform(sequence(0, ${dims - 1}), j -> cast(
              |  (pmod(xxhash64(pmod(xxhash64(id, ${seed}L, 1), $Centers), j, ${seed}L, 3), 1000000)/500000.0 - 1.0)
              |  + 0.15 * (pmod(xxhash64(id, j, ${seed}L, 7), 1000000)/500000.0 - 1.0)
              |as float))""".stripMargin).as("vector"),
      pmod(xxhash64(col("id"), lit(seed), lit(5)), lit(100)).cast("int")
        .as("label"))

  /** Rows [0, rows) on the driver, as the brute-force oracle. */
  def corpus(rows: Int, dims: Int, seed: Long): Corpus = {
    val vecs = new Array[Float](rows * dims)
    java.util.stream.IntStream.range(0, rows).parallel().forEach(i =>
      System.arraycopy(vector(i.toLong, dims, seed), 0, vecs, i * dims, dims))
    new Corpus(dims, rows, vecs, Array.tabulate(rows)(i => label(i, seed)))
  }

  /** Rows [0, rows) as a DataFrame (id, vector, label), generated on the
    * executors in `parts` partitions.
    */
  def frame(spark: SparkSession, rows: Int, dims: Int, seed: Long,
            parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, rows, 1, parts).as[Long]
      .map(id => (id, vector(id, dims, seed), label(id, seed)))
      .toDF("id", "vector", "label")
  }

  /** Held-out query vectors: generated rows [from, from + n). */
  def queries(from: Long, n: Int, dims: Int, seed: Long)
      : Array[Array[Float]] =
    Array.tabulate(n)(i => vector(from + i, dims, seed))
}

/** The driver's own copy of a collection whose row ids are 0 until
  * `size`: the brute-force oracle that search results are checked
  * against.
  */
final class Corpus(val dims: Int, val size: Int, vecs: Array[Float],
                   labels: Array[Int]) {
  private val norms = Array.tabulate(size)(i =>
    Corpus.norm2(java.util.Arrays.copyOfRange(vecs, i * dims, (i + 1) * dims)))

  def contains(id: Long): Boolean = id >= 0 && id < size
  def label(id: Long): Int = labels(id.toInt)

  /** Cosine distance computed the way the engine's kernels do. */
  def distance(id: Long, q: Array[Float]): Double =
    cosine(id.toInt, q, Corpus.norm2(q))

  private def cosine(i: Int, q: Array[Float], qn2: Double): Double =
    if (norms(i) == 0.0 || qn2 == 0.0) 1.0
    else {
      var s = 0.0; var j = 0; val off = i * dims
      while (j < dims) { s += vecs(off + j).toDouble * q(j).toDouble; j += 1 }
      1.0 - s / (math.sqrt(norms(i)) * math.sqrt(qn2))
    }

  /** Exact top-k (id, distance) over rows passing `labelPred`, ordered
    * by distance, then id.
    */
  def topK(q: Array[Float], k: Int,
           labelPred: Int => Boolean = _ => true): Array[(Long, Double)] = {
    val qn2 = Corpus.norm2(q)
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (a: (Long, Double), b: (Long, Double)) =>
        if (a._2 != b._2) java.lang.Double.compare(b._2, a._2)
        else java.lang.Long.compare(b._1, a._1))
    var i = 0
    while (i < size) {
      if (labelPred(labels(i))) {
        heap.add((i.toLong, cosine(i, q, qn2)))
        if (heap.size > k) heap.poll()
      }
      i += 1
    }
    val out = new Array[(Long, Double)](heap.size)
    var j = out.length - 1
    while (j >= 0) { out(j) = heap.poll(); j -= 1 }
    out
  }

  def countWhere(labelPred: Int => Boolean): Long =
    labels.count(labelPred).toLong
}

object Corpus {
  def norm2(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    s
  }
}

/** Output checks shared by the workloads. */
object Check {
  val Tol = 1e-6

  /** Exact top-k check: the returned distances equal the brute-force
    * top-k distances, in order, and every returned id is an eligible row
    * whose true distance is the one reported. Ties may order either way.
    * Returns the failure, or None.
    */
  def exact(hits: Seq[(Long, Double)], truth: Array[(Long, Double)],
            corpus: Corpus, q: Array[Float],
            eligible: Long => Boolean): Option[String] = {
    if (hits.length != truth.length)
      return Some(s"${hits.length} hits, expected ${truth.length}")
    hits.zip(truth).zipWithIndex.collectFirst {
      case (((id, d), (_, td)), i) if math.abs(d - td) > Tol =>
        s"rank $i distance $d, expected $td"
      case (((id, _), _), i) if !corpus.contains(id) || !eligible(id) =>
        s"rank $i id $id is not an eligible row"
      case (((id, d), _), i) if math.abs(corpus.distance(id, q) - d) > Tol =>
        s"rank $i id $id reported distance $d, true ${corpus.distance(id, q)}"
    }
  }

  /** Share of `truth`'s ids found among `hits`. */
  def recall(hits: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0
    else truth.count(hits.toSet).toDouble / truth.size
}
