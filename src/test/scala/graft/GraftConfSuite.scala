package graft

import java.io.File

import org.apache.spark.sql.functions._
import graft.core.GraftConf
import graft.index.IvfFlatIndex

/** The settings registry: every `spark.graft.*` key is declared once in
  * GraftConf and exercised by a test, the README's configuration table is
  * the registry's, and a key the registry does not declare fails loudly
  * instead of silently reading a default. */
class GraftConfSuite extends SparkFunSuite {

  private def scalaFiles(dir: String): Seq[File] = {
    val root = new File(dir)
    assert(root.isDirectory, s"$dir not found: run from the repository root")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala"))
  }

  private def read(f: File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("no spark.graft. string literal under src/main outside GraftConf") {
    val offenders = scalaFiles("src/main/scala")
      .filter(f => f.getName != "GraftConf.scala" && read(f).contains("\"spark.graft."))
    assert(offenders.isEmpty,
      s"read these settings through graft.core.GraftConf: ${offenders.mkString(", ")}")
  }

  test("every declared key is set by a test") {
    val tests = scalaFiles("src/test/scala").filter(_.getName != "GraftConfSuite.scala")
      .map(read).mkString("\n")
    val untested = GraftConf.all.map(_.key).filterNot(k => tests.contains("\"" + k + "\""))
    assert(untested.isEmpty, s"no test sets ${untested.mkString(", ")}")
  }

  test("the README configuration table is GraftConf.all") {
    val readme = read(new File("README.md")).split("\n")
    val rows = readme.dropWhile(_ != "## Configuration")
      .dropWhile(!_.startsWith("| `")).takeWhile(_.startsWith("|")).toSeq
    val expected = GraftConf.all.map(e => s"| `${e.key}` | `${e.default}` | ${e.doc} |")
    assert(rows == expected,
      s"README.md's Configuration table should read:\n${expected.mkString("\n")}")
  }

  test("the registry holds 23 distinct keys, none of the removed ones") {
    val keys = GraftConf.all.map(_.key)
    assert(keys.size == 23 && keys.distinct.size == keys.size)
    Seq("hnsw.lastSearchRoute", "hnsw.exactLevelCap", "hnsw.hybridMaxUpperIds",
      "hnsw.hybridMaxUpperEdges", "knnJoin.autoProbeFraction",
      "knnJoin.maxFilterProbeRows", "nearDup.crossJoinMax", "simhash.maxSplitDepth",
      "stream.statePartitions", "stream.targetBytesPerStatePartition")
      .foreach(k => assert(!keys.contains(GraftConf.Prefix + k), k))
  }

  /** The IllegalArgumentException `body` fails with, wherever in the
    * cause chain Spark wrapped it. */
  private def undeclared(key: String, value: String)(body: => Unit): IllegalArgumentException = {
    spark.conf.set(key, value)
    val thrown =
      try { body; None }
      catch { case t: Throwable => Some(t) }
      finally spark.conf.unset(key)
    val chain = Iterator.iterate(thrown.orNull)(_.getCause).takeWhile(_ != null)
    chain.collectFirst { case e: IllegalArgumentException if e.getMessage.contains(key) => e }
      .getOrElse(fail(s"setting $key should fail the call, got $thrown"))
  }

  private lazy val emb = {
    graft.functions.SqlFunctions.register(spark)
    val df = spark.read.parquet(s"${SparkTestBase.sf0001}/embeddings.parquet")
    df.createOrReplaceTempView("conf_emb")
    df.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .createOrReplaceTempView("conf_q")
    df
  }

  test("a misspelled key fails a SQL knn_join and names the nearest declared key") {
    emb
    val e = undeclared("spark.graft.knnJoin.targetRecal", "0.9") {
      spark.sql("SELECT * FROM knn_join('conf_emb', 'conf_q', 5, 'l2sqrt', " +
        "'vec_id', 'embedding', 'qid', 'qvec')").collect()
    }
    assert(e.getMessage.contains(GraftConf.KnnJoinTargetRecall.key), e.getMessage)
    // the key is gone again: the same query runs
    assert(spark.sql("SELECT * FROM knn_join('conf_emb', 'conf_q', 5, 'l2sqrt', " +
      "'vec_id', 'embedding', 'qid', 'qvec')").count() > 0)
  }

  test("a misspelled key and a removed key fail a library search") {
    val idx = IvfFlatIndex.build(emb,
      IvfFlatIndex.Params(nLists = 8, nIters = 5), "vec_id", "embedding")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val typo = undeclared("spark.graft.localKernel.enable", "false") {
      idx.search(q, 5, nProbes = 8).collect()
    }
    assert(typo.getMessage.contains(GraftConf.LocalKernelEnabled.key), typo.getMessage)
    undeclared("spark.graft.knnJoin.autoProbeFraction", "0.5") {
      idx.search(q, 5, nProbes = 8).collect()
    }
    assert(idx.search(q, 5, nProbes = 8).count() == q.count() * 5)
  }

  test("the undeclared-key check runs no Spark job") {
    spark.conf.set("spark.graft.stream.statePartitions", "4")
    try {
      var thrown: Option[Throwable] = None
      val jobs = jobsDuring {
        thrown = scala.util.Try(GraftConf.LocalKernelEnabled.get(spark)).failed.toOption
      }
      assert(thrown.exists(_.getMessage.contains("spark.graft.stream.statePartitions")))
      assert(jobs == 0)
    } finally spark.conf.unset("spark.graft.stream.statePartitions")
  }

  test("withValue scopes an override and restores the session's prior value") {
    val key = GraftConf.KnnJoinTargetRecall.key
    spark.conf.set(key, "0.9")
    try {
      val inside = GraftConf.KnnJoinTargetRecall.withValue(spark, 0.5) {
        GraftConf.KnnJoinTargetRecall.get(spark)
      }
      assert(inside == 0.5)
      assert(GraftConf.KnnJoinTargetRecall.get(spark) == 0.9)
    } finally spark.conf.unset(key)
    GraftConf.KnnJoinTargetRecall.withValue(spark, 0.5)(())
    assert(spark.conf.getOption(key).isEmpty)
    assert(GraftConf.KnnJoinTargetRecall.get(spark) == GraftConf.KnnJoinTargetRecall.default)
  }
}
