package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextAnalysis => TA}

/** Driver queries + DuckDB oracles for the text-analysis / dedup surface
  * (SURVEY.md §2.9). Join-heavy dedup ops run on a doc_id % 10 subset so
  * the inverted-index joins stay bounded across scale factors; the
  * duplicate corpus unions an 80%-prefix copy of each doc (near-dups) or a
  * verbatim copy (exact dups) at id+10000.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    SparkEntry.table(spark, dir, "documents")

  private def subset(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"), col("text"))

  private def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val s = subset(spark, dir)
    s.unionByName(s.select((col("id") + 10000).as("id"),
      expr("substr(text, 1, CAST(floor(length(text) * 4 / 5) AS INT))").as("text")))
  }

  private val nearDupCorpusSql: String =
    """corpus AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000 AS id, substr(text, 1, CAST(floor(length(text) * 4 / 5) AS INT)) AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Distinct 8-gram shingle CTE over `corpus` (scalar generate_series +
    * unnest: DuckDB's table-function form can't take lateral columns). */
  private val shingleSql: String =
    """sh AS (SELECT DISTINCT id, substr(text, CAST(i AS INT), 8) AS shingle
      |  FROM (SELECT id, text, unnest(generate_series(1, greatest(length(text) - 7, 0))) AS i
      |        FROM corpus))""".stripMargin

  private val shingleHashSql: String = (0 until 8)
    .map(k => s"ascii(substr(shingle, ${k + 1}, 1)) * ${math.pow(31, 7 - k).toLong}::BIGINT")
    .mkString(" + ")

  // ===== text_stats =====================================================

  private def textStatsQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      TA.tokenCount(col("text")).as("n_tokens"),
      TA.regexTokenCount(col("text")).as("n_tokens_re"),
      round(TA.alphaRatio(col("text")), 4).as("alpha_ratio"),
      round(TA.punctRatio(col("text")), 4).as("punct_ratio"),
      round(TA.avgWordLen(col("text")), 4).as("avg_word_len"),
      round(TA.qualityScore(col("text")), 4).as("quality"),
      TA.positionalFingerprint(col("text")).as("fingerprint"))

  private val stopListsSql: Map[String, String] = TA.stopwords.map { case (l, ws) =>
    l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
  }

  private def stopRatioSql(lang: String): String =
    s"(CAST(len(list_filter(toks, t -> list_contains(${stopListsSql(lang)}, t))) AS DOUBLE)" +
      " / greatest(len(toks), 1))"

  private val textStatsOracle: String = {
    val stopSum = Seq("de", "en", "es", "fr").map(stopRatioSql).mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text,
       |  list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks FROM documents),
       |fp AS (SELECT doc_id, CAST(sum(i * ascii(substr(text, CAST(i AS INT), 1))) % 1000000007 AS BIGINT) AS fingerprint
       |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM documents)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  len(toks) AS n_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens_re,
       |  round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4) AS alpha_ratio,
       |  round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4) AS punct_ratio,
       |  round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / greatest(len(toks), 1), 4) AS avg_word_len,
       |  round((least(len(toks) / 50.0, 1.0)
       |    + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)
       |    + 1.0 - least(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) * 4.0, 1.0)
       |    + least(($stopSum) * 5.0, 1.0)) / 4.0, 4) AS quality,
       |  fp.fingerprint
       |FROM d JOIN fp ON fp.doc_id = d.doc_id""".stripMargin
  }

  // ===== lang_id ========================================================

  private def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), TA.langId(col("text")).as("lang_pred"))

  private val langIdOracle: String = {
    val s = Seq("de", "en", "es", "fr").map(l => s"${stopRatioSql(l)} AS s_$l").mkString(",\n  ")
    s"""WITH d AS (SELECT doc_id,
       |  list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks FROM documents),
       |sc AS (SELECT doc_id, $s FROM d)
       |SELECT doc_id, CASE
       |  WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |  WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |  WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
       |  WHEN s_fr > 0 THEN 'fr'
       |  ELSE 'und' END AS lang_pred
       |FROM sc""".stripMargin
  }

  // ===== dedup ==========================================================

  private def dedupExactQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = subset(spark, dir)
    val corpus = s.unionByName(s.select((col("id") + 10000).as("id"), col("text")))
    Dedup.exactDupGroups(corpus, "id", "text", onlyDups = true)
  }

  private val dedupExactOracle: String =
    """WITH corpus AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0)
      |SELECT md5(text) AS text_hash, count(*) AS n, min(id) AS keeper
      |FROM corpus GROUP BY 1 HAVING count(*) > 1""".stripMargin

  private def jaccardPairsQuery(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(nearDupCorpus(spark, dir), "id", "text", n = 8, minJaccard = 0.3)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))

  /** Exact-Jaccard verify chain over a shingle CTE named `src`. The LSH
    * oracles verify over the uncut `sh` (as minhashLshPairs does); the
    * direct-pairs oracle verifies over the df-cut `shf`, replaying
    * jaccardPairs' default maxDfFrac = 0.5. */
  private def jaccardVerifySqlOn(src: String): String =
    s"""sizes AS (SELECT id, count(*) AS sz FROM $src GROUP BY 1),
       |inter AS (SELECT x.id AS a, y.id AS b, count(*) AS inter
       |  FROM $src x JOIN $src y ON x.shingle = y.shingle AND x.id < y.id GROUP BY 1, 2),
       |jac AS (SELECT a, b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b)""".stripMargin

  private val jaccardVerifySql: String = jaccardVerifySqlOn("sh")

  private val jaccardPairsOracle: String =
    s"""WITH $nearDupCorpusSql,
       |$shingleSql,
       |keepsh AS (SELECT shingle FROM sh GROUP BY shingle
       |  HAVING count(*) <= 0.5 * (SELECT count(*) FROM corpus)),
       |shf AS (SELECT sh.id, sh.shingle FROM sh JOIN keepsh USING (shingle)),
       |${jaccardVerifySqlOn("shf")}
       |SELECT a, b, round(jaccard, 4) AS jaccard FROM jac WHERE jaccard >= 0.3""".stripMargin

  private def minhashLshQuery(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(nearDupCorpus(spark, dir), "id", "text",
        n = 8, numHashes = 16, bandRows = 4, minJaccard = 0.3)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))

  /** Shared MinHash CTE chain (signatures, bands, LSH candidates) — ONE
    * definition of the hash family, used verbatim by the pairs oracle and
    * the end-to-end pipeline oracle so they cannot drift apart. Must stay
    * bit-identical to Dedup.minhashLshPairs — including the hot-bucket cap
    * (`keep` drops band buckets larger than the `lsh.bucketCap` default,
    * exactly as the Spark side does at its default conf). */
  private val minhashCandidateCtes: String = {
    val P = 2147483647L
    val sigCols = (0 until 16).map(j =>
      s"min((h * ${2 * j + 1} + ${j.toLong * j + 7}) % $P) AS mh$j").mkString(",\n  ")
    val bandSelects = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")
      s"SELECT id, $b AS band, concat_ws('_', $key) AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""hh AS (SELECT id, $shingleHashSql AS h FROM sh),
       |sig AS (SELECT id, $sigCols FROM hh GROUP BY id),
       |bands AS ($bandSelects),
       |bok AS (SELECT band, bkey FROM bands GROUP BY band, bkey
       |  HAVING count(*) <= ${graft.core.GraftConf.LshBucketCap.default}),
       |keep AS (SELECT b.* FROM bands b JOIN bok USING (band, bkey)),
       |cand AS (SELECT DISTINCT x.id AS ca, y.id AS cb FROM keep x
       |  JOIN keep y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id)""".stripMargin
  }

  private val minhashLshOracle: String =
    s"""WITH $nearDupCorpusSql,
       |$shingleSql,
       |$minhashCandidateCtes,
       |$jaccardVerifySql
       |SELECT a, b, round(jaccard, 4) AS jaccard FROM jac
       |JOIN cand ON cand.ca = jac.a AND cand.cb = jac.b
       |WHERE jaccard >= 0.3""".stripMargin

  /** End-to-end near-dup pipeline — the composed north-star flow a training
    * corpus runs at 100 TB: MinHash signatures (row-local) -> LSH band join
    * (candidates only) -> Jaccard verify -> connected components over the
    * verified pairs -> one keeper per duplicate cluster. Output is the
    * cluster inventory (cluster = keeper = min member id, n_docs). Every
    * stage is the already-oracled operator; the composition itself is
    * re-derived independently by the oracle below (recursive CTE over the
    * replayed MinHash pairs). */
  private def dedupPipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(spark, dir)
    val pairs = Dedup.minhashLshPairs(corpus, "id", "text",
      n = 8, numHashes = 16, bandRows = 4, minJaccard = 0.3)
    graft.graphops.Components.connectedComponents(
        corpus.select(col("id")),
        pairs.select(col("a").as("src"), col("b").as("dst")), "id")
      .groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private val dedupPipelineOracle: String =
    s"""WITH RECURSIVE $nearDupCorpusSql,
       |$shingleSql,
       |$minhashCandidateCtes,
       |$jaccardVerifySql,
       |dup AS (SELECT a, b FROM jac JOIN cand ON cand.ca = jac.a AND cand.cb = jac.b
       |  WHERE jaccard >= 0.3),
       |und AS (SELECT a, b FROM dup UNION SELECT b, a FROM dup
       |  UNION SELECT id, id FROM corpus),
       |reach AS (SELECT a, b FROM und
       |  UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |lab AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a)
       |SELECT cluster, count(*) AS n_docs FROM lab GROUP BY 1""".stripMargin

  private def simhashQuery(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(subset(spark, dir), "id", "text", n = 8)

  /** Shared 63-bit sketch CTE chain — must stay bit-identical to
    * Dedup.simhash (chained 31-bit rehashes; bits 0..30 from h2a, 31..61
    * from h2b, 62 from h2c). Chained CTEs keep every product < 2^63 so
    * DuckDB BIGINT never overflows. Ends with `sk(id, simhash)`. */
  private val simhashSketchCtes: String = {
    val P = 2147483647L
    def src(b: Int): String =
      if (b < 31) s"(h2a >> $b)" else if (b < 62) s"(h2b >> ${b - 31})" else "h2c"
    val bitSums = (0 until Dedup.SimhashBits).map(b =>
      s"sum(CASE WHEN ${src(b)} & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n  ")
    val packed = (0 until Dedup.SimhashBits).map(b =>
      s"CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END").mkString(" + ")
    s"""h0 AS (SELECT id, ($shingleHashSql) AS h FROM sh),
       |h1 AS (SELECT id, (h * 1000003 + 12345) % $P AS h2a FROM h0),
       |h2 AS (SELECT id, h2a, (h2a * 1000003 + 12345) % $P AS h2b FROM h1),
       |h3 AS (SELECT id, h2a, h2b, (h2b * 1000003 + 12345) % $P AS h2c FROM h2),
       |bits AS (SELECT id, $bitSums FROM h3 GROUP BY id),
       |sk AS (SELECT id, CAST($packed AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  private val simhashOracle: String =
    s"""WITH corpus AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0),
       |$shingleSql,
       |$simhashSketchCtes
       |SELECT id, simhash FROM sk""".stripMargin

  private def simhashPairsQuery(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Dedup.simhash(nearDupCorpus(spark, dir), "id", "text", n = 8),
      maxHamming = 6)

  private val simhashPairsOracle: String =
    s"""WITH $nearDupCorpusSql,
       |$shingleSql,
       |$simhashSketchCtes
       |SELECT x.id AS a, y.id AS b, CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
       |FROM sk x CROSS JOIN sk y WHERE x.id < y.id
       |AND bit_count(xor(x.simhash, y.simhash)) <= 6""".stripMargin

  private def embeddingNearDupQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = SparkEntry.table(spark, dir, "embeddings").filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = e.unionByName(e.select((col("id") + 10000).as("id"), col("vec")))
    Dedup.embeddingNearDup(corpus, 0.3, "id", "vec")
      .select(col("aid"), col("bid"), round(col("dist"), 4).as("dist"))
  }

  private val embeddingNearDupOracle: String = {
    val cos = "1.0 - list_sum(list_transform(list_zip(x.vec, y.vec), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / " +
      "sqrt(list_sum(list_transform(x.vec, v -> CAST(v AS DOUBLE) ^ 2)) * " +
      "list_sum(list_transform(y.vec, v -> CAST(v AS DOUBLE) ^ 2)))"
    s"""WITH e AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id % 5 = 0),
       |corpus AS (SELECT id, vec FROM e UNION ALL SELECT id + 10000, vec FROM e)
       |SELECT x.id AS aid, y.id AS bid, round($cos, 4) AS dist
       |FROM corpus x CROSS JOIN corpus y
       |WHERE x.id < y.id AND ($cos) < 0.3""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_stats" -> (textStatsQuery(_, _)),
    "lang_id" -> (langIdQuery(_, _)),
    "dedup_exact" -> (dedupExactQuery(_, _)),
    "dedup_jaccard_pairs" -> (jaccardPairsQuery(_, _)),
    "dedup_minhash_lsh" -> (minhashLshQuery(_, _)),
    "dedup_pipeline" -> (dedupPipelineQuery(_, _)),
    "simhash_sketch" -> (simhashQuery(_, _)),
    "dedup_simhash_pairs" -> (simhashPairsQuery(_, _)),
    "dedup_embedding_cosine" -> (embeddingNearDupQuery(_, _)),
  )

  val oracles: Map[String, String] = Map(
    "text_stats" -> textStatsOracle,
    "lang_id" -> langIdOracle,
    "dedup_exact" -> dedupExactOracle,
    "dedup_jaccard_pairs" -> jaccardPairsOracle,
    "dedup_minhash_lsh" -> minhashLshOracle,
    "dedup_pipeline" -> dedupPipelineOracle,
    "simhash_sketch" -> simhashOracle,
    "dedup_simhash_pairs" -> simhashPairsOracle,
    "dedup_embedding_cosine" -> embeddingNearDupOracle,
  )
}
