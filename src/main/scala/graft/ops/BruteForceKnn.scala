package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Metric, TopK, TopKBuf}
import graft.functions.vector_distance

/** Exact k-nearest-neighbor search as a relational plan.
  *
  * Semantics of `cuvs::neighbors::brute_force` (brute_force.hpp:371-582,
  * tiled engine knn_brute_force.cuh:62): for every query row, the exact
  * top-k dataset rows under `metric`, larger-is-better for InnerProduct
  * (distance.hpp:72-85), ties broken by ascending id.
  *
  * Physical shape (see SURVEY.md §3.2 for the 1:1 mapping to the
  * reference's tiling): broadcast the query side, cross-product it against
  * dataset partitions with a codegen distance, then partial top-k per
  * partition (ObjectHashAggregate) so only `k` rows per (query, partition)
  * cross the shuffle — dataset partitions play the role of the reference's
  * column tiles, the aggregator merge plays `knn_merge_parts`.
  *
  * 100 TB posture: the dataset side streams (never collected/broadcast);
  * cost is O(|D|·|Q|) compute but only O(|Q|·k·partitions) shuffle bytes.
  * For large query sets, run in query batches (`queryBatchSize`) so the
  * broadcast stays bounded; for sub-linear compute use IvfFlatIndex.
  */
object BruteForceKnn {

  /** int8/uint8 dataset support (brute_force.hpp:195-307 build overloads;
    * SURVEY.md §1.2): non-float vector columns (array<tinyint>/<smallint>/
    * <int>/<double>) widen to float32 at the operator boundary, so callers
    * search quantized tables directly. A float column is a no-op
    * (SimplifyCasts removes the same-type cast).
    *
    * CONTRACT: distances are computed at float32 input precision — the
    * reference's own compute dtype (brute_force.hpp: float accumulation
    * over T in {float, half, int8_t, uint8_t}). An array<double> column is
    * therefore NARROWED to float32 here, deliberately and silently; pass
    * pre-rounded float data if bit-exact double semantics matter. */
  private[graft] def asFloatVec(c: Column): Column = c.cast("array<float>")

  /** Returns (qid, nbr_id, rank, dist), rank 1..k best-first. A data row
    * whose dimension is not its query's fails the search with its id and
    * dimension, on both routes, as the index list scans do. */
  def knnJoin(dataset: DataFrame, queries: DataFrame, k: Int,
      metric: Metric = Metric.L2Sqrt,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val d = dataset.select(col(idCol).cast("long").as("_nid"), asFloatVec(col(vecCol)).as("_nvec"))
    val q = queries.select(col(qidCol).cast("long").as("qid"), asFloatVec(col(qvecCol)).as("_qvec"))

    // Fused select_k kernel (graft.graphops.LocalKernel): when the query
    // side fits in memory — the same bound the broadcast below implies —
    // replace the crossJoin + per-row aggregator with one mapPartitions
    // over the (streaming, never collected) dataset side that maintains a
    // TopKBuf per query row and emits only parts·|Q|·k candidates into the
    // same final merge. Top-k merge is associative under the (dist, id)
    // order (TopKSuite), so the result is identical to the single-pass
    // plan; the per-row UDAF encode/decode overhead on |D|·|Q| rows is
    // what disappears. This is the reference's per-tile select_k +
    // knn_merge_parts, hand-fused.
    val spark = dataset.sparkSession
    // Plan-derived sizes — optimizer stats, no RDD conversion, no job.
    // Rows are estimated at >=64 B each (a conservative floor for an
    // id + vector row), good to the order of magnitude the routing needs.
    def rowsEst(df: DataFrame): Long =
      (df.queryExecution.optimizedPlan.stats.sizeInBytes / 64)
        .max(1).min(BigInt(Long.MaxValue)).toLong
    val dRowsEst = rowsEst(d)
    // The fused kernel saves per-pair-row aggregator overhead but costs a
    // handful of fixed jobs (query collect, optional respread). Below this
    // many estimated (dataset x query) pairs the single-stage crossJoin
    // plan is strictly cheaper — the r2->r3 bench regression on sub-second
    // brute-force queries was exactly this fixed cost.
    val fusedMinPairs = graft.core.GraftConf.BruteForceFusedMinPairs.get(spark)
    val maxV = graft.graphops.LocalKernel.maxVectors(spark)
    // Attempt the fused route only when stats say the work is big enough:
    // estimated pairs over the threshold. Stats over-count a filtered
    // query side (filters don't shrink basic stats), so the bounded
    // limit-collect probe doubles as the EXACT pair-count gate — after it,
    // qArr.length is the true query count and the fused-vs-crossJoin
    // decision re-runs on actual pairs (a small filtered q falls back to
    // the crossJoin plan, reusing the collected rows as a LocalRelation,
    // so the probe is never wasted work). The probe itself is one bounded
    // job: <= maxV+1 rows off q's plan. No separate count job ever runs;
    // below the estimate gate the whole search stays one lazy crossJoin
    // plan with zero extra jobs.
    val qArr: Array[(Long, Array[Float])] =
      if (graft.graphops.LocalKernel.enabled(spark) &&
          BigInt(dRowsEst) * BigInt(rowsEst(q)) > BigInt(fusedMinPairs)) {
        import spark.implicits._
        val maxVInt = (maxV + 1).min(Int.MaxValue).toInt
        // rowsEst never undercounts (64 B/row floor), so rowsEst <= maxV
        // proves q is collectable. Past that the count is ambiguous: run a
        // bounded count job FIRST — rows only, no vector transfer — so a
        // genuinely huge query side never ships maxV vectors to the driver
        // just to be discarded.
        if (rowsEst(q) <= maxV || q.limit(maxVInt).count() <= maxV)
          q.limit(maxVInt).as[(Long, Array[Float])].collect()
        else null
      } else null
    val pairs =
      if (qArr != null && qArr.length <= maxV &&
          dRowsEst > fusedMinPairs / qArr.length.max(1)) {
        import spark.implicits._
        val bcQ = spark.sparkContext.broadcast(qArr)
        val distFn = graft.core.Distance.fn(metric)
        val minClose = Metric.isMinClose(metric)
        // L2 family: monotone partial sums let a candidate abort against
        // the query's current k-th bound (same bound discipline as the
        // reference's fused select_k, knn_brute_force.cuh:148-181)
        val l2Fast = metric == Metric.L2 || metric == Metric.L2Sqrt
        val sqrtOut = metric == Metric.L2Sqrt
        // a small scan can arrive in fewer partitions than cores; spreading
        // it keeps the kernel parallel. At scale partitions >> cores and
        // this is a no-op (no shuffle of a large dataset). The partition
        // estimate comes from plan stats + maxPartitionBytes (what the
        // file scan itself would do), not from d.rdd.
        val cores = spark.sparkContext.defaultParallelism
        val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
        val estParts = (d.queryExecution.optimizedPlan.stats.sizeInBytes / maxPart)
          .min(BigInt(Int.MaxValue)).toLong + 1
        val dIn = if (estParts < cores) d.repartition(cores) else d
        dIn.as[(Long, Array[Float])].mapPartitions { rows =>
          val qs = bcQ.value
          val bufs = qs.map(_ => TopKBuf(k, minClose, new Array[Double](k), new Array[Long](k), 0))
          rows.foreach { case (nid, nvec) =>
            var i = 0
            while (i < qs.length) {
              if (qs(i)._2.length != nvec.length) throw new IllegalArgumentException(
                s"data row $nid has dimension ${nvec.length}, the query ${qs(i)._2.length}")
              if (l2Fast) {
                val raw = bufs(i).bound
                val bnd = if (sqrtOut && !raw.isInfinity) Math.nextUp(Math.nextUp(raw * raw)) else raw
                val s = graft.core.Distance.l2UpTo(qs(i)._2, nvec, bnd)
                if (s <= bnd) bufs(i).insert(if (sqrtOut) math.sqrt(s) else s, nid)
              } else bufs(i).insert(distFn(qs(i)._2, nvec), nid)
              i += 1
            }
          }
          bufs.iterator.zipWithIndex.flatMap { case (buf, i) =>
            val qid = qs(i)._1
            (0 until buf.size).iterator.map(j => (qid, buf.ids(j), buf.dists(j)))
          }
        }.toDF("qid", "_nid", "dist")
      } else {
        // If the route probe already collected the (small) query side,
        // hand the rows to the broadcast as a LocalRelation instead of
        // re-evaluating q's plan — q is computed exactly once either way.
        import spark.implicits._
        val qDf =
          if (qArr != null && qArr.length <= maxV)
            qArr.toSeq.toDF("qid", "_qvec")
          else q
        val nvec = col("_nvec")
        val qdim = size(col("_qvec"))
        val checked = when(nvec.isNull || col("_qvec").isNull || size(nvec) === qdim, nvec)
          .otherwise(raise_error(concat(lit("data row "), col("_nid").cast("string"),
            lit(" has dimension "), size(nvec).cast("string"), lit(", the query "),
            qdim.cast("string"))))
        d.crossJoin(broadcast(qDf))
          .select(col("qid"), col("_nid"),
            vector_distance(metric, col("_qvec"), checked).as("dist"))
      }
    topKPerQuery(pairs, k, metric)
  }

  /** kNN over PRECOMPUTED distances — `Metric::Precomputed`
    * (distance.hpp:64): the caller supplies the (qid, id, dist) table
    * (any source: a distance matrix, a cross-encoder score, an external
    * system) and only the per-query select_k runs. */
  def knnFromDistances(pairs: DataFrame, k: Int, minClose: Boolean = true,
      qidCol: String = "qid", idCol: String = "id", distCol: String = "dist"): DataFrame =
    topKPerQuery(
      pairs.select(col(qidCol).cast("long").as("qid"), col(idCol).cast("long").as("_nid"),
        col(distCol).cast("double").as("dist")),
      k, if (minClose) Metric.L2 else Metric.InnerProduct)

  /** Per-query top-k epilogue over a (qid, _nid, dist) pair stream —
    * the universal `select_k` (selection/select_k.hpp:22-190). */
  private[graft] def topKPerQuery(pairs: DataFrame, k: Int, metric: Metric): DataFrame =
    pairs.groupBy(col("qid"))
      .agg(TopK.topk(k, Metric.isMinClose(metric))(col("dist"), col("_nid")).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("qid"), col("n.id").as("nbr_id"),
        (col("pos") + 1).as("rank"), col("n.dist").as("dist"))

  /** Pre-filtered exact kNN — the bitset/bitmap/UDF filter surface of the
    * reference (common.hpp:500-638): `deny` is a global deny-list (bitset
    * analog, applied as an anti-join), `allowPerQuery` a per-(query, id)
    * allow table (bitmap analog, applied as a semi-join on (qid, id)), and
    * `predicate` an arbitrary row filter (udf_filter analog — Catalyst
    * pushes it below the top-k, the filter-then-rank plan of
    * PushDownPredicates). All filtering happens BEFORE ranking, exactly as
    * the reference fuses filters into the scan. */
  def knnJoinFiltered(dataset: DataFrame, queries: DataFrame, k: Int,
      metric: Metric = Metric.L2Sqrt,
      deny: Option[DataFrame] = None,
      allowPerQuery: Option[DataFrame] = None,
      predicate: Option[Column] = None,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val base0 = predicate.fold(dataset)(dataset.filter)
    val base = deny.fold(base0)(d =>
      base0.join(broadcast(d.select(col(d.columns.head).cast("long").as(idCol))),
        Seq(idCol), "left_anti"))
    val d = base.select(col(idCol).cast("long").as("_nid"), asFloatVec(col(vecCol)).as("_nvec"))
    val q = queries.select(col(qidCol).cast("long").as("qid"), asFloatVec(col(qvecCol)).as("_qvec"))
    val pairs0 = d.crossJoin(broadcast(q))
    val pairs1 = allowPerQuery.fold(pairs0) { al =>
      pairs0.join(broadcast(al.select(col("qid").cast("long").as("qid"),
        col("id").cast("long").as("_nid"))), Seq("qid", "_nid"), "left_semi")
    }
    topKPerQuery(pairs1.select(col("qid"), col("_nid"),
      vector_distance(metric, col("_qvec"), col("_nvec")).as("dist")), k, metric)
  }

  /** Window-form reference implementation (the oracle shape; exact same
    * semantics, more shuffle — used by tests to cross-check the aggregator
    * and by callers who need full materialized ranks). */
  def knnJoinWindowForm(dataset: DataFrame, queries: DataFrame, k: Int,
      metric: Metric = Metric.L2Sqrt,
      idCol: String = "id", vecCol: String = "vec",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dataset.select(col(idCol).cast("long").as("_nid"), asFloatVec(col(vecCol)).as("_nvec"))
    val q = queries.select(col(qidCol).cast("long").as("qid"), asFloatVec(col(qvecCol)).as("_qvec"))
    val distC = vector_distance(metric, col("_qvec"), col("_nvec"))
    val ord: Seq[Column] =
      if (Metric.isMinClose(metric)) Seq(col("dist").asc, col("_nid").asc)
      else Seq(col("dist").desc, col("_nid").asc)
    d.crossJoin(broadcast(q))
      .select(col("qid"), col("_nid"), distC.as("dist"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid")).orderBy(ord: _*)))
      .filter(col("rank") <= k)
      .select(col("qid"), col("_nid").as("nbr_id"), col("rank"), col("dist"))
  }
}
