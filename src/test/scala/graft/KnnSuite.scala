package graft

import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.ops.{BruteForceKnn, PairwiseDistance, Refine}

/** Brute-force kNN: aggregator path == window path (the reference's
  * naive-oracle discipline, naive_knn.cuh), merge-parts identity, range
  * join consistency — on sf0.001 real fixtures. */
class KnnSuite extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def collectKnn(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    df.select(col("qid"), col("nbr_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted

  test("aggregator path == window path (L2Sqrt)") {
    val a = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt, "vec_id", "embedding")
    val w = BruteForceKnn.knnJoinWindowForm(emb, queries, 10, Metric.L2Sqrt, "vec_id", "embedding")
    assert(collectKnn(a) == collectKnn(w))
    assert(a.count() == queries.count() * 10)
  }

  test("aggregator path == window path (InnerProduct, max-k)") {
    val a = BruteForceKnn.knnJoin(emb, queries, 5, Metric.InnerProduct, "vec_id", "embedding")
    val w = BruteForceKnn.knnJoinWindowForm(emb, queries, 5, Metric.InnerProduct, "vec_id", "embedding")
    assert(collectKnn(a) == collectKnn(w))
  }

  test("a data row of another dimension than the query fails both routes with its dimension") {
    val s = spark
    import s.implicits._
    val v = Array.fill(64)(0.5f)
    val q = Seq((1L, v)).toDF("qid", "qvec")
    for (lk <- Seq("true", "false"); dim <- Seq(63, 65)) {
      val data = Seq((0L, v), (7L, Array.fill(dim)(0.5f))).toDF("id", "vec")
      spark.conf.set("spark.graft.localKernel.enabled", lk)
      spark.conf.set("spark.graft.bruteforce.fusedMinPairs", "0")
      val msg = try {
        val e = intercept[Exception](BruteForceKnn.knnJoin(data, q, 2, Metric.L2).collect())
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
          .mkString(" / ")
      } finally {
        spark.conf.unset("spark.graft.localKernel.enabled")
        spark.conf.unset("spark.graft.bruteforce.fusedMinPairs")
      }
      assert(msg.contains(s"data row 7 has dimension $dim, the query 64"), s"localKernel=$lk: $msg")
    }
  }

  test("self is rank 1 under L2") {
    val res = BruteForceKnn.knnJoin(emb, queries, 3, Metric.L2Sqrt, "vec_id", "embedding")
      .filter(col("rank") === 1).collect()
    assert(res.forall(r => r.getAs[Long]("qid") == r.getAs[Long]("nbr_id")))
    assert(res.forall(r => r.getAs[Double]("dist") == 0.0))
  }

  test("sharded search + mergeParts == unsharded search") {
    val full = BruteForceKnn.knnJoin(emb, queries, 7, Metric.L2Sqrt, "vec_id", "embedding")
    val p1 = BruteForceKnn.knnJoin(emb.filter(col("vec_id") < 200), queries, 7,
      Metric.L2Sqrt, "vec_id", "embedding")
    val p2 = BruteForceKnn.knnJoin(emb.filter(col("vec_id") >= 200), queries, 7,
      Metric.L2Sqrt, "vec_id", "embedding")
    val merged = Refine.mergeParts(7, Metric.L2Sqrt, p1, p2)
    assert(collectKnn(merged) == collectKnn(full))
  }

  test("ball-cover kNN == brute force exactly (lossless two-phase prune)") {
    val idx = graft.ops.BallCover.build(emb, nLandmarks = 8,
      idCol = "vec_id", vecCol = "embedding")
    val exact = BruteForceKnn.knnJoin(emb, queries, 10, Metric.L2Sqrt,
      "vec_id", "embedding")
    // including with a single probe ball (weaker phase-1 bound)
    for (p <- Seq(1, 2)) {
      val got = graft.ops.BallCover.knn(idx, queries, 10, probeLandmarks = p)
      assert(collectKnn(got) == collectKnn(exact), s"probeLandmarks=$p")
    }
  }

  test("ball-cover kNN: a query whose probed balls are all empty still gets answers") {
    import spark.implicits._
    // ball 0 holds all the data; ball 1 (at [100,100]) is empty — a query
    // sitting on the empty landmark probes it first and must fall back to
    // scanning everything instead of returning nothing
    val cs = graft.expr.CentroidSet(Array(0f, 0f, 100f, 100f), 2, 2, "l2sqrt")
    val members = (1L to 5L).map(i => (0, i, Array(i.toFloat, 0f), i.toDouble))
      .toDF("lm", "id", "vec", "dlm")
    val idx = graft.ops.BallCover.Index(cs, Map(0 -> 5.0), members)
    val q = Seq((7L, Array(100f, 100f))).toDF("qid", "qvec")
    val got = graft.ops.BallCover.knn(idx, q, 3, probeLandmarks = 1).collect()
    assert(got.length == 3)
    assert(got.map(_.getLong(1)).toSet == Set(5L, 4L, 3L)) // nearest to [100,100]
  }

  test("epsNeighborhood edges all satisfy dist < eps and match pairwise filter") {
    val eps = 3.0
    val a = emb.filter(col("vec_id") % 25 === 0)
    val edges = PairwiseDistance.epsNeighborhood(a, emb, eps, Metric.L2Sqrt,
      "vec_id", "embedding", "vec_id", "embedding")
    assert(edges.filter(col("dist") >= eps).count() == 0)
    val viaPairwise = PairwiseDistance.pairwise(a, emb, Metric.L2Sqrt,
      "vec_id", "embedding", "vec_id", "embedding").filter(col("dist") < eps)
    assert(edges.count() == viaPairwise.count())
  }
}
