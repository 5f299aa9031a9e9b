package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.IvfFlatIndex
import graft.sources.SidecarIO

/** The driver-side sidecar writer against Spark's own writer: same schema,
  * rows and footer metadata, no job. */
class SidecarIOSuite extends SparkFunSuite {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"sidecario_$tag").toString

  private lazy val frame: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 10, 0.5, "a", Seq(1.0f, 2.0f)),
      (2L, 20, -1.25, null, Seq.empty[Float]),
      (Long.MaxValue, Int.MinValue, Double.MaxValue, "ünï", Seq(3.5f, -0.0f, 7.0f)))
      .toDF("l", "i", "d", "s", "v")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq

  /** Write `df` both ways and compare what each reader sees. */
  private def assertSameAsSpark(df: DataFrame): Unit = {
    val mine = tmp("mine")
    val theirs = tmp("theirs")
    assert(jobsDuring(SidecarIO.write(df, mine)) == 0, "driver write must run no job")
    df.coalesce(1).write.mode("overwrite").parquet(theirs)
    val (a, b) = (spark.read.parquet(mine), spark.read.parquet(theirs))
    assert(a.schema == b.schema)
    assert(sorted(a) == sorted(b))
    assert(SidecarIO.sparkSchema(spark, mine) == SidecarIO.sparkSchema(spark, theirs))
    assert(SidecarIO.readRows(spark, mine).map(_.toSet) ==
      SidecarIO.readRows(spark, theirs).map(_.toSet))
    assert(dataFiles(mine).size == 1)
    assert(new java.io.File(mine, "_SUCCESS").exists())
  }

  test("driver write == Spark write: long, int, double, string and array<float> columns") {
    assertSameAsSpark(frame)
    // a projection of a driver-held frame is still driver-held
    assertSameAsSpark(frame.select(col("l"), (col("i") + 1).as("i1"), lit(7L).as("k")))
  }

  test("driver write == Spark write: an empty frame keeps its schema") {
    assertSameAsSpark(frame.filter(lit(false)))
    val dir = tmp("empty")
    SidecarIO.write(frame.filter(lit(false)), dir)
    assert(SidecarIO.rowCount(spark, dir).contains(0L))
    assert(SidecarIO.readRows(spark, dir).contains(Seq.empty))
  }

  test("a second write replaces the first") {
    val dir = tmp("replace")
    SidecarIO.write(frame, dir)
    SidecarIO.write(frame.filter(col("l") === 2L).select(col("l"), col("s")), dir)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSeq == Seq("l", "s"))
    assert(sorted(back) == Seq("[2,null]"))
    assert(dataFiles(dir).size == 1)
  }

  test("a frame that is not driver-held is refused and leaves the directory alone") {
    val dir = tmp("refused")
    SidecarIO.write(frame, dir)
    val e = intercept[IllegalArgumentException] {
      SidecarIO.write(spark.range(3).toDF("l"), dir)
    }
    assert(e.getMessage.contains("not a driver-held frame"))
    assert(sorted(spark.read.parquet(dir)) == sorted(frame))
  }

  test("readLocal copies a sidecar verbatim with no job") {
    val src = tmp("src")
    val dst = tmp("dst")
    SidecarIO.write(frame, src)
    assert(jobsDuring(SidecarIO.readLocal(spark, src).foreach(SidecarIO.write(_, dst))) == 0)
    assert(SidecarIO.sparkSchema(spark, dst) == SidecarIO.sparkSchema(spark, src))
    assert(sorted(spark.read.parquet(dst)) == sorted(frame))
    assert(SidecarIO.readLocal(spark, tmp("none") + "/missing").isEmpty)
  }

  test("a saved list table loads with no job and the schema inference gives") {
    val emb = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
    val dir = tmp("lists")
    spark.conf.set("spark.graft.index.recallCurve.enabled", "false")
    try IvfFlatIndex.build(emb, IvfFlatIndex.Params(nLists = 8, nIters = 5),
      "vec_id", "embedding").save(dir)
    finally spark.conf.unset("spark.graft.index.recallCurve.enabled")
    var loaded: IvfFlatIndex = null
    assert(jobsDuring { loaded = IvfFlatIndex.load(spark, dir) } == 0)
    val inferred = spark.read.parquet(s"$dir/lists")
    assert(loaded.lists.schema == inferred.schema)
    assert(loaded.lists.count() == emb.count())
    assert(loaded.lists.exceptAll(inferred).isEmpty)
  }

  test("a saved HNSW layout loads with no job and the schemas inference gives") {
    val e = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dir = tmp("hnsw")
    val idx = graft.index.Hnsw.fromGraph(
      graft.graphops.AllNeighbors.exact(e, 8, graft.core.Metric.L2, "id", "vec"), e,
      graft.index.Hnsw.Params(m = 8), "id", "vec")
    spark.conf.set("spark.graft.index.recallCurve.enabled", "false")
    try graft.index.Hnsw.save(idx, dir)
    finally spark.conf.unset("spark.graft.index.recallCurve.enabled")
    var loaded: graft.index.Hnsw.Index = null
    assert(jobsDuring { loaded = graft.index.Hnsw.load(spark, dir) } == 0)
    for ((got, table) <- Seq(loaded.levels -> "hnsw_levels", loaded.edges -> "hnsw_edges")) {
      val inferred = spark.read.parquet(s"$dir/$table")
      assert(got.schema == inferred.schema, table)
      assert(got.exceptAll(inferred).isEmpty && inferred.exceptAll(got).isEmpty, table)
    }
  }
}
