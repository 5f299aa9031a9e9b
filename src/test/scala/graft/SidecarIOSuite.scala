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

  private def names(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName).toSet

  test("rows(...) writes the schema and rows its toDF frame writes, with no job") {
    val s = spark
    import s.implicits._
    val data = Seq((1L, 10, 0.5, "a", Seq(1.0f, 2.0f)), (2L, 20, -1.25, null, Seq.empty[Float]))
    val cols = Seq("l", "i", "d", "s", "v")
    for ((rows, frame) <- Seq(
        SidecarIO.rows(data, cols: _*) -> data.toDF(cols: _*),
        SidecarIO.rows(Seq(7L), "n_rows") -> Seq(7L).toDF("n_rows"),
        SidecarIO.rows(Seq("a", "b"), "dir") -> Seq("a", "b").toDF("dir"))) {
      val (mine, theirs) = (tmp("rows_mine"), tmp("rows_theirs"))
      assert(jobsDuring(SidecarIO.write(spark, mine, rows)) == 0)
      SidecarIO.write(frame, theirs)
      assert(SidecarIO.sparkSchema(spark, mine) == SidecarIO.sparkSchema(spark, theirs))
      assert(SidecarIO.readRows(spark, mine) == SidecarIO.readRows(spark, theirs))
    }
  }

  test("a write and a copy leave one data file plus _SUCCESS, and no .crc") {
    val (a, b, c) = (tmp("crc_a"), tmp("crc_b"), tmp("crc_c"))
    SidecarIO.write(frame, a)
    SidecarIO.write(spark, b, SidecarIO.Rows(frame.schema, frame.collect().toSeq))
    SidecarIO.copy(spark, a, c)
    for (dir <- Seq(a, b, c)) {
      assert(names(dir).size == 2 && names(dir).contains("_SUCCESS") && dataFiles(dir).size == 1,
        s"$dir holds ${names(dir)}")
      assert(sorted(spark.read.parquet(dir)) == sorted(frame), dir)
    }
    assert(names(c) == names(a))
    // a swap leaves the target alone, without its staging siblings
    val swapped = s"${tmp("crc_swap")}/meta"
    SidecarIO.swap(spark, swapped, SidecarIO.Rows(frame.schema, frame.collect().toSeq))
    SidecarIO.swap(spark, swapped, SidecarIO.Rows(frame.schema, Nil))
    assert(names(new java.io.File(swapped).getParent) == Set("meta"))
    assert(names(swapped).size == 2 && SidecarIO.readRows(spark, swapped).contains(Seq.empty))
  }

  test("a file with several row groups reads in full and in order; readHead returns its " +
      "first row; the readRows cap still throws") {
    val dir = tmp("groups")
    spark.range(1000).select(col("id"), (col("id") * 2).cast("int").as("twice"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "1024")
      .option("parquet.page.size.row.check.min", "10")
      .option("parquet.page.size.row.check.max", "10")
      .parquet(dir)
    val file = new org.apache.hadoop.fs.Path(dir, dataFiles(dir).head)
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    val groups = try reader.getRowGroups.size finally reader.close()
    assert(groups > 1, s"the fixture should span several row groups, has $groups")
    val expected = (0 until 1000).map(i => Map[String, Any]("id" -> i.toLong, "twice" -> 2 * i))
    assert(SidecarIO.readRows(spark, dir).contains(expected))
    assert(SidecarIO.readHead(spark, dir).contains(expected.head))
    assert(SidecarIO.rowCount(spark, dir).contains(1000L))
    val e = intercept[IllegalStateException](SidecarIO.readRows(spark, dir, maxRows = 999))
    assert(e.getMessage.contains("more than 999 rows"))
  }

  test("a legacy Spark-written sidecar with .crc files still reads and copies") {
    val (legacy, copied) = (tmp("legacy"), tmp("legacy_copy"))
    frame.coalesce(1).write.mode("overwrite").parquet(legacy)
    assert(names(legacy).exists(_.endsWith(".crc")), "Spark's writer leaves .crc files")
    assert(SidecarIO.readRows(spark, legacy).map(_.toSet) ==
      Some(frame.collect().map(r => r.schema.fieldNames.zip(r.toSeq)
        .collect { case (n, v) if v != null => n -> v }.toMap).toSet))
    SidecarIO.copy(spark, legacy, copied)
    assert(!names(copied).exists(_.endsWith(".crc")))
    assert(names(copied) == names(legacy).filterNot(_.endsWith(".crc")))
    assert(SidecarIO.sparkSchema(spark, copied) == SidecarIO.sparkSchema(spark, legacy))
    assert(SidecarIO.readRows(spark, copied) == SidecarIO.readRows(spark, legacy))
    // a rewrite in place replaces the checksummed files with unchecksummed ones
    SidecarIO.write(frame, legacy)
    assert(!names(legacy).exists(_.endsWith(".crc")))
    assert(sorted(spark.read.parquet(legacy)) == sorted(frame))
  }

  /** Calls of `call` in `src` whose argument list has no top-level comma. */
  private def oneArgCalls(src: String, call: scala.util.matching.Regex): Int =
    call.findAllMatchIn(src).count { m =>
      var (j, depth, comma) = (m.end, 1, false)
      while (j < src.length && depth > 0) {
        src(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 1 => comma = true
          case _ => ()
        }
        j += 1
      }
      !comma
    }

  test("no per-open Hadoop configuration parse or checksummed copy under src/main outside " +
      "SidecarIO") {
    val open = raw"ParquetFileReader\s*\.\s*open\s*\(".r
    assert(oneArgCalls("ParquetFileReader.open(f(x, y))", open) == 1)
    assert(oneArgCalls("ParquetFileReader\n  .open(f, opts)", open) == 0)
    val banned = Seq(
      raw"ParquetReader\s*\.\s*builder\s*\(".r,
      raw"new\s+(org\.apache\.hadoop\.conf\.)?Configuration\s*\(".r,
      raw"FileUtil\s*\.\s*copy\s*\(".r)
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, "src/main/scala not found: run from the repository root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val offenders = walk(root)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "SidecarIO.scala")
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        banned.filter(_.findFirstIn(src).isDefined).map(r => s"$f: $r") ++
          (if (oneArgCalls(src, open) > 0) Seq(s"$f: one-argument ParquetFileReader.open") else Nil)
      }
    assert(offenders.isEmpty,
      s"read and write sidecars through graft.sources.SidecarIO: ${offenders.mkString(", ")}")
  }
}
