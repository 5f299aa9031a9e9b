package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Metric

/** Scratch probe: three consecutive brute-search passes at 1M to split the
  * flagship brute timing band (24-45 s observed across sessions) into
  * first-pass (JIT/codegen/cache-population) vs steady-state components. */
object BruteVariance {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(graft.core.GraftConf.LocalKernelEnabled.key, "false")
    val n = 1000000L
    val dim = 64
    val data = ScaleSmoke.hashVecs(spark, 0, n, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    data.count()
    val q = data.filter(col("id") % (n / 200) === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    for (pass <- 1 to 3) {
      val t0 = System.nanoTime()
      graft.ops.BruteForceKnn.knnJoin(data, q, 10, Metric.L2, "id", "vec").count()
      println(f"VARPASS $pass ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
