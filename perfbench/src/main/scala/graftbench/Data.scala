package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded Gaussian mixture. Vector `i` of a stream is a pure function of
  * (seed, stream, i): stream 0 holds the corpus and every row appended
  * later (ids continue past the initial corpus), stream 1 the held-out
  * queries. */
final class Mixture(seed: Long, val dim: Int, nCenters: Int, sigma: Double) {
  private val centers: Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    Array.fill(nCenters)(Array.fill(dim)(r.nextGaussian().toFloat))
  }

  def vector(stream: Int, i: Long): Array[Float] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L + i)
    val c = centers(r.nextInt(nCenters))
    Array.tabulate(dim)(j => (c(j) + sigma * r.nextGaussian()).toFloat)
  }

  def rows(stream: Int, from: Long, until: Long): Array[Array[Float]] =
    Array.tabulate((until - from).toInt)(i => vector(stream, from + i))
}

/** Growable row-major store of the population the engine should hold, ids
  * 0 until `size` — what the oracle searches. */
final class Population(val dim: Int) {
  private var data = new Array[Float](1 << 16)
  private var n = 0

  def size: Int = n

  def add(rows: Array[Array[Float]]): Unit = {
    val need = (n + rows.length) * dim
    if (need > data.length) {
      data = java.util.Arrays.copyOf(data, math.max(need, data.length * 2))
    }
    rows.foreach { v =>
      System.arraycopy(v, 0, data, n * dim, dim)
      n += 1
    }
  }

  /** Squared L2 between `q` and row `id`, accumulated in double. */
  def dist(q: Array[Float], id: Int): Double = {
    var s = 0.0
    var j = 0
    val off = id * dim
    while (j < dim) {
      val d = q(j).toDouble - data(off + j)
      s += d * d
      j += 1
    }
    s
  }

  /** Exact top-k ids of `q` among rows 0 until `limit`, nearest first, ties
    * by id: a plain loop with a bounded max-heap, independent of every
    * engine kernel. */
  def topK(q: Array[Float], k: Int, limit: Int): Array[Int] = {
    val ord = Ordering.by[(Double, Int), (Double, Int)](identity)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord)
    var i = 0
    while (i < limit) {
      val d = dist(q, i)
      if (heap.size < k) heap.enqueue((d, i))
      else if (ord.lt((d, i), heap.head)) {
        heap.dequeue()
        heap.enqueue((d, i))
      }
      i += 1
    }
    heap.dequeueAll[(Double, Int)].reverse.map(_._2).toArray
  }
}

object VectorFrames {
  final case class Row(id: Long, vec: Array[Float])

  /** (idCol, vecCol) frame of `rows` under `ids`. */
  def vectors(spark: SparkSession, ids: Array[Long], rows: Array[Array[Float]],
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    import spark.implicits._
    rows.indices.map(i => Row(ids(i), rows(i))).toDF(idCol, vecCol)
  }
}
