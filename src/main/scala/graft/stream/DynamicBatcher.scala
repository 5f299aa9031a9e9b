package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Dynamic query batching — `cuvs::neighbors::dynamic_batching`
  * (dynamic_batching.hpp:63-70,79-163): queue incoming queries, dispatch
  * the queue as ONE batched search per trigger, return per-query results
  * identical to searching each query alone. The reference amortizes GPU
  * kernel launch + PCIe transfer across the batch; the Spark analog
  * amortizes job scheduling + broadcast across a micro-batch.
  *
  * Shape: a Structured Streaming `MemoryStream` of (qid, qvec) rows with a
  * `foreachBatch` sink — each micro-batch runs the caller's search
  * function once over every queued query. Batching is a latency/throughput
  * decision only; result CONTENT is batching-invariant, which is what the
  * oracle on the `dynamic_batching` query checks (union of per-batch
  * results == one-shot search over all queries).
  */
object DynamicBatcher {

  /** Stream `waves` of queries through a micro-batched dispatcher; each
    * wave is enqueued then drained as one batch (the size/timeout dispatch
    * of the reference collapses to trigger boundaries here). Returns the
    * union of per-batch search results with a `batch` column carrying the
    * dense dispatch index (empty trailing batches are skipped).
    *
    * `search` takes a (qid, qvec) DataFrame and returns any per-query
    * result rows; it runs once per non-empty micro-batch. Query payloads
    * are serving-side client input (not a table scan), so a wave is a
    * local Seq — the dataset being searched stays distributed inside
    * `search`.
    */
  def run(spark: SparkSession, waves: Seq[Seq[(Long, Array[Float])]],
          search: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // The dispatcher's checkpoint is an implicit temp dir that lives for
    // one drive — transient by construction — so the Spark 4.1 checksum
    // checkpoint manager (a sibling .crc write per checkpoint file plus
    // per-query thread pools whose stop waits 500 ms each) buys nothing
    // here; same opt-out conf as StreamPipeline.drain.
    val kvs =
      if (graft.core.GraftConf.StreamTransientCheckpoint.get(spark))
        StreamPipeline.transientCheckpointConfs
      else Seq.empty
    StreamPipeline.withConfs(spark, kvs)(runImpl(spark, waves, search))
  }

  private def runImpl(spark: SparkSession, waves: Seq[Seq[(Long, Array[Float])]],
          search: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, Seq[Float])]
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val query = stream.toDS().toDF("qid", "qvec")
      .withColumn("qvec", col("qvec").cast("array<float>"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // localCheckpoint decouples the rows from the transient streaming
        // source, so the lazily-built search plan stays valid after the
        // micro-batch completes
        val b = batch.localCheckpoint()
        if (b.count() > 0)
          out.synchronized { out += search(b).withColumn("batch", lit(out.length)) }
        ()
      }
      .start()
    try {
      waves.foreach { w =>
        stream.addData(w.map { case (id, v) => (id, v.toSeq) })
        query.processAllAvailable() // drain the queue: one dispatch per wave
      }
    } finally query.stop()
    // read under the same lock the callback writes under — don't rely on the
    // streaming termination path for the happens-before edge
    out.synchronized {
      require(out.nonEmpty, "no queries arrived on the stream")
      out.reduce(_ unionByName _)
    }
  }
}
