package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Metric

/** Measured reorder-depth calibration for the PQ-coded layouts — the
  * displacement analog of the per-index recall curve: at build time (the
  * raw dataset is only available then; the saved layout stores codes),
  * hold out a seeded query sample, rank the WHOLE corpus by the code
  * estimator at full probes, and record the worst rank at which a TRUE
  * top-k neighbor appears. A reorder depth at or past that displacement
  * makes the refine re-rank exact on the sample — the measured form of
  * the refine recall-recovery discipline (refine.hpp:26-68), replacing a
  * fixed 4k margin guess with this index's own quantization noise. The
  * planner keeps the legacy heuristic as a floor
  * (ResolveKnnJoin.compressedDepth).
  *
  * Cost: one full-probe code ranking of the sample at build — never paid
  * at search time. The exact ground truth is the lineage's shared one
  * (IvfFlatIndex.heldOutTruth: the first 32 queries of the curve sample,
  * one exact pass per corpus and metric), so the layout's own curve and a
  * sibling layout over the same base reuse it. The hint's value is
  * unchanged by the sharing. Disable with
  * `spark.graft.index.depthHint.enabled=false`.
  */
private[graft] object DepthHint {

  /** (measuredK, worst displacement) — displacement capped at `cap` when
    * some true neighbor never surfaced in the top-`cap` code ranking
    * (the honest "needs at least the cap" answer). None on an empty
    * sample. `search` is the layout's own (queries, depth, nProbes) =>
    * ranked frame; `truth` the lineage's held-out ground truth, of which
    * the first `nQueries` queries are measured. */
  def measure(search: (DataFrame, Int, Int) => DataFrame, nLists: Int,
      truth: => CurveTruth, nRows: Long, k: Int = 10, nQueries: Int = 32,
      cap: Int = 4096): Option[(Int, Int)] = {
    val t = truth.take(nQueries)
    if (t.nQueries == 0) None
    else {
      val spark = SparkSession.active
      // the truth holds the query's own row out (a self-match is a
      // trivially-ranked code hit and would shrink the measured
      // displacement); the code ranking keeps its raw self-inclusive
      // ranks — at most one rank high, i.e. conservative in the safe
      // (wider-depth) direction
      val exact = t.truthFrame(spark)
      // the full-probe top-`cap` code ranking is the measurement's one
      // heavy job (per-partition heaps of nQ·cap candidates over the
      // whole corpus); at curve-scale corpora split it into query
      // chunks so no single stage holds the full nQ×n scan — hits are
      // per-query, so (sum of matches, max of worst ranks) over the
      // chunks is identical to the single-job aggregate
      def hitAgg(qs: DataFrame): (Long, Int) = {
        val hit = search(qs, cap, nLists).select(col("qid"), col("nbr_id"), col("rank"))
          .join(exact, Seq("qid", "nbr_id"))
          .agg(count(lit(1)).as("n"),
            coalesce(max(col("rank")), lit(0)).as("worst")).head()
        (hit.getLong(0), hit.getAs[Int]("worst"))
      }
      val q = t.queryFrame(spark)
      val (nHit, worst) =
        if (nRows < graft.core.Frames.CurveScaleRows) hitAgg(q)
        else graft.core.Frames.chunkedByQid(q, chunk = 8)(hitAgg)(
          (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
      val disp = if (nHit < t.pairs) cap else worst
      Some((k, disp))
    }
  }

  def save(spark: SparkSession, path: String, hint: (Int, Int)): Unit = {
    import spark.implicits._
    graft.sources.SidecarIO.write(spark, s"$path/depth_meta",
      graft.sources.SidecarIO.rows(Seq(hint), "k", "displacement"))
  }

  def load(spark: SparkSession, path: String): Option[(Int, Int)] =
    // driver-side read (r17): one-row sidecar the resolver consults on
    // every compressed-route planning pass — no Spark job (SidecarIO doc)
    graft.sources.SidecarIO.readHead(spark, s"$path/depth_meta").flatMap { r =>
      for (k <- r.get("k"); d <- r.get("displacement"))
        yield (graft.sources.SidecarIO.asInt(k), graft.sources.SidecarIO.asInt(d))
    }

  def enabled(spark: SparkSession): Boolean =
    graft.core.GraftConf.IndexDepthHint.get(spark)

  /** Only metrics the kNN-join planner can route through a compressed
    * layout (compressedScoreMetric) can ever consume the hint — measuring
    * e.g. a Hamming build would pay the brute pass for dead weight.
    * Cosine joined the routable set when the cosine-built PQ layouts
    * gained the normalized-IP scoring arm. */
  def routableMetric(m: Metric): Boolean =
    m == Metric.L2 || m == Metric.L2Sqrt || m == Metric.InnerProduct ||
      m == Metric.Cosine
}
