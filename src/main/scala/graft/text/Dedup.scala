package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators of the LLM-pipeline extension (SURVEY.md §2.9):
  * exact (hash-group), n-gram Jaccard, MinHash+LSH, SimHash, embedding
  * cosine near-dup. All pure DataFrame ops over codegen'd primitives with
  * portable integer hashes, so every stage has an exact DuckDB oracle.
  *
  * 100 TB posture: the only quadratic step (candidate verification) is
  * reached through an inverted-index equi-join (shingle -> doc) or an LSH
  * band-bucket join — never a cross join. High-frequency shingles are the
  * skew/explosion risk; `maxDfFrac` drops them (the standard df cut), and
  * the band join shuffles only (band_key, doc) pairs.
  */
object Dedup {

  /** (id, shingle) exploded inverted index, distinct per doc (substr with a
    * column start position needs the SQL-expression form). */
  def shingleDf(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode(array_distinct(expr(
          s"transform(sequence(1, greatest(length($textCol) - ${n - 1}, 0)), " +
          s"i -> substr($textCol, i, $n))"))).as("shingle"))

  /** Exact duplicate groups by content hash: (text_hash, n, keeper). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String,
      onlyDups: Boolean = false): DataFrame = {
    val g = df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n"), min(col(idCol).cast("long")).as("keeper"))
    if (onlyDups) g.filter(col("n") > 1) else g
  }

  /** Portable 3..8-char shingle hash: base-31 polynomial over ascii codes
    * (fixed length -> closed form, exactly replicable in SQL). */
  def shingleHash(sh: Column, n: Int): Column =
    (0 until n).map(k =>
      ascii(substring(sh, k + 1, 1)).cast("long") * math.pow(31, n - 1 - k).toLong)
      .reduce(_ + _)

  /** Distinct shingle set of one document, row-local (insertion order). */
  private def localShingles(text: String, n: Int): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= text.length) { seen.add(text.substring(i, i + n)); i += 1 }
    seen.toArray(new Array[String](seen.size))
  }

  /** All pairs (a < b) with n-gram Jaccard >= minJaccard, via the
    * inverted-index join (never a cross product).
    *
    * `maxDfFrac` is the standard document-frequency cut: shingles present
    * in more than that fraction of docs are dropped from every signature
    * BEFORE the join. It defaults on (0.5) because a boilerplate shingle
    * shared by f·n docs contributes (f·n)² candidate rows to the
    * inverted-index self-join — at corpus scale the cut is the difference
    * between a bounded join and a quadratic one. Pass 1.0 for the uncut
    * textbook Jaccard.
    *
    * Cost-based route (graft.graphops.LocalKernel): when the corpus'
    * shingle inventory fits in a broadcast, the inverted index is built
    * once in memory and each task sweeps the posting lists of its share of
    * documents — the co-occurrence counting is identical (distinct shingle
    * STRINGS, same df cut), but no (shingle, doc) rows ever shuffle.
    * Above the gate the equi-join + count aggregate runs unchanged. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minJaccard: Double = 0.5, maxDfFrac: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("text"))
      .transform(graft.core.Frames.materialize(_))
    val nDocs = docs.count()
    val totalShingles = docs.select(
      sum(greatest(length(col("text")) - (n - 1), lit(0)))).head().getLong(0)
    if (graft.graphops.LocalKernel.enabled(spark) &&
        totalShingles <= graft.graphops.LocalKernel.maxEdges(spark)) {
      try return jaccardPairsLocal(docs, n, minJaccard, maxDfFrac, nDocs)
      finally docs.unpersist()
    }
    docs.unpersist()
    val sh = shingleDf(df, idCol, textCol, n)
    val filtered =
      if (maxDfFrac >= 1.0) sh
      else {
        val keep = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= (maxDfFrac * nDocs))
        sh.join(keep.select("shingle"), "shingle")
      }
    val sizes = filtered.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = filtered.as("x").join(filtered.as("y"), "shingle")
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Distinct-shingle base-31 hashes of one document, computed row-local —
    * identical to shingleDf + shingleHash (distinct is over the SHINGLE
    * strings; two distinct shingles colliding to one hash value stay two
    * entries, exactly as the exploded form). Empty when the text is
    * shorter than n (such docs have no signature rows in either form). */
  private def localShingleHashes(text: String, n: Int): Array[Long] = {
    val seen = new java.util.HashSet[String]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    while (i + n <= text.length) {
      val sh = text.substring(i, i + n)
      if (seen.add(sh)) {
        var h = 0L
        var k = 0
        while (k < n) { h = h * 31 + sh.charAt(k).toInt; k += 1 }
        out += h
      }
      i += 1
    }
    out.toArray
  }

  /** Broadcast-posting kernel: each task owns a slice of documents and
    * sweeps the posting lists of its docs' shingles (b > a only), so every
    * co-occurring pair is counted exactly once. */
  private def jaccardPairsLocal(docs: DataFrame, n: Int, minJaccard: Double,
      maxDfFrac: Double, nDocs: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val all = docs.as[(Long, String)].collect().sortBy(_._1)
    val rawSets = all.map { case (_, text) => localShingles(text, n) }
    // document-frequency cut (same semantics as the join route's keep set)
    val dfCount = new java.util.HashMap[String, Int]()
    rawSets.foreach(_.foreach(s => dfCount.merge(s, 1, (a, b) => a + b)))
    val maxDf = maxDfFrac * nDocs
    val sets =
      if (maxDfFrac >= 1.0) rawSets
      else rawSets.map(_.filter(s => dfCount.get(s) <= maxDf))
    val ids = all.map(_._1)
    val sizes = sets.map(_.length)
    val posting = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    sets.zipWithIndex.foreach { case (ss, di) =>
      ss.foreach { s =>
        var b = posting.get(s)
        if (b == null) { b = new scala.collection.mutable.ArrayBuffer[Int](); posting.put(s, b) }
        b += di // ascending doc index by construction
      }
    }
    val post = new java.util.HashMap[String, Array[Int]](posting.size * 2)
    posting.forEach((s, b) => post.put(s, b.toArray))
    val bcSets = spark.sparkContext.broadcast(sets)
    val bcPost = spark.sparkContext.broadcast(post)
    val bcIds = spark.sparkContext.broadcast(ids)
    val bcSizes = spark.sparkContext.broadcast(sizes)
    val minJ = minJaccard
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, all.length))
    spark.range(0, all.length, 1, parts).as[Long].mapPartitions { it =>
      val ss = bcSets.value; val pt = bcPost.value
      val idArr = bcIds.value; val sz = bcSizes.value
      val counts = new java.util.HashMap[Int, Int]()
      it.flatMap { aL =>
        val a = aL.toInt
        counts.clear()
        ss(a).foreach { s =>
          val pl = pt.get(s)
          if (pl != null) {
            var t = pl.length - 1
            // posting lists ascend; only partners AFTER a
            while (t >= 0 && pl(t) > a) { counts.merge(pl(t), 1, (x, y) => x + y); t -= 1 }
          }
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        counts.forEach { (b, inter) =>
          val j = inter.toDouble / (sz(a) + sz(b) - inter).toDouble
          if (j >= minJ) out += ((idArr(a), idArr(b), j))
        }
        out.iterator
      }
    }.toDF("a", "b", "jaccard")
  }

  /** MinHash signatures: mh_j = min over shingles of (A_j*h + B_j) mod P,
    * A_j = 2j+1, B_j = j^2+7 (deterministic affine family), P = 2^31-1.
    * Row-local kernel: a doc's shingle set needs only its own row, so the
    * explode + 16-way min aggregate — a full shuffle of the shingle
    * stream — is pure overhead at any scale. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, numHashes: Int = 16): DataFrame = {
    val P = 2147483647L
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = localShingleHashes(text, n)
        if (hs.isEmpty) None
        else Some((id, Array.tabulate(numHashes) { j =>
          var mn = Long.MaxValue
          hs.foreach { h =>
            val v = (h * (2 * j + 1) + (j.toLong * j + 7)) % P
            if (v < mn) mn = v
          }
          mn
        }))
      }
      .toDF("id", "sig")
      .select(col("id") +:
        (0 until numHashes).map(j => element_at(col("sig"), j + 1).as(s"mh$j")): _*)
  }

  /** LSH band-bucket candidates + exact Jaccard verify: banding the
    * signature (numHashes/bandRows bands), pairs colliding in >= 1 band,
    * then verified against minJaccard.
    *
    * 100 TB posture: band keys come from ONE posexplode pass over the
    * persisted signatures (not per-band unions that each recompute the
    * signature flatMap), and the (band, bkey) self-join is guarded by the
    * bucket cap above (`spark.graft.lsh.bucketCap`) so a boilerplate-heavy
    * corpus cannot produce a quadratic hot bucket. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, numHashes: Int = 16, bandRows: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    val spark0 = df.sparkSession
    // Band buckets larger than this many docs are dropped from the
    // candidate join (SURVEY §8's hot-bucket cap). A bucket this size is
    // boilerplate (every member of an N-doc bucket pairs with N-1 others —
    // the join is quadratic PER BUCKET), and true near-dups inside it still
    // collide in their other bands. Drops are logged, never silent, and the
    // DuckDB oracles replay the identical default cap.
    val bucketCap = graft.core.GraftConf.LshBucketCap.get(spark0)
    val sigs = minhashSignatures(df, idCol, textCol, n, numHashes)
    val nBands = numHashes / bandRows
    val keyCols = (0 until nBands).map { b =>
      concat_ws("_", (0 until bandRows).map(r => col(s"mh${b * bandRows + r}")): _*)
    }
    val bands = sigs
      .select(col("id"), posexplode(array(keyCols: _*)).as(Seq("band", "bkey")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = bands.groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("_bc"))
      .filter(col("_bc") > bucketCap)
      .select(col("band"), col("bkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nHot = hot.count()
    if (nHot > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"LSH: dropping $nHot band bucket(s) larger than $bucketCap docs " +
        s"(boilerplate-heavy keys); near-dups inside them still pair via " +
        s"their other ${nBands - 1} bands")
    val pruned =
      if (nHot == 0) bands
      else bands.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
    val cands = pruned.as("x").join(pruned.as("y"), Seq("band", "bkey"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Verify candidates with exact shingle Jaccard. LSH guarantees the
    // candidate set is small, so when it fits in memory the shingle sets of
    // ONLY the involved documents broadcast and each pair verifies locally
    // — no re-explode of the corpus shingle stream. The join route remains
    // for candidate sets past the gate.
    val spark = df.sparkSession
    val nCands = cands.count()
    bands.unpersist()
    hot.unpersist()
    if (graft.graphops.LocalKernel.enabled(spark) &&
        nCands <= graft.graphops.LocalKernel.maxVectors(spark)) {
      import spark.implicits._
      val candArr = cands.as[(Long, Long)].collect()
      cands.unpersist()
      val needed = candArr.flatMap(p => Seq(p._1, p._2)).toSet
      val sets = new java.util.HashMap[Long, Array[String]]()
      df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("text"))
        .filter(col("id").isInCollection(needed.toSeq))
        .as[(Long, String)].collect()
        .foreach { case (id, text) => sets.put(id, localShingles(text, n)) }
      val verified = candArr.flatMap { case (a, b) =>
        val sa = sets.get(a); val sb = sets.get(b)
        val sbSet = new java.util.HashSet[String](java.util.Arrays.asList(sb: _*))
        var inter = 0
        sa.foreach(s => if (sbSet.contains(s)) inter += 1)
        val j = inter.toDouble / (sa.length + sb.length - inter).toDouble
        if (j >= minJaccard) Some((a, b, j)) else None
      }
      return spark.createDataFrame(verified.toIndexedSeq).toDF("a", "b", "jaccard")
    }

    val sh = shingleDf(df, idCol, textCol, n)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val res = cands
      .join(sh.select(col("id").as("a"), col("shingle")), "a")
      .join(sh.select(col("id").as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    cands.unpersist()
    res
  }

  /** Number of sketch bits. 63, not the textbook 64: both Spark and DuckDB
    * BIGINT are signed, and DuckDB rejects `1 << 63` as overflow, so the
    * sign bit stays clear — the sketch is always a non-negative long. At
    * the default maxHamming=6 the pigeonhole split below gives exactly
    * 7 bands x 9-bit keys (512 buckets/band), vs 5-bit keys from the old
    * 32-bit sketch whose (band, key) self-join went quadratic at scale. */
  val SimhashBits = 63

  /** 63-bit SimHash over distinct shingles: two chained 31-bit rehashes
    * h2a = (1000003*h + 12345) mod 2^31-1, h2b = (1000003*h2a + 12345)
    * mod 2^31-1, h2c likewise from h2b; sketch bits 0..30 come from h2a,
    * 31..61 from h2b, 62 from h2c — bit b = sign of sum over shingles of
    * (bit ? +1 : -1). Chaining (rather than a second multiplier) keeps
    * every product under 2^63 so the same arithmetic is exactly
    * replicable in DuckDB BIGINT without overflow. Row-local kernel like
    * minhashSignatures — the bit-sum needs only the doc's own shingles. */
  def simhash(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val P = 2147483647L
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = localShingleHashes(text, n)
        if (hs.isEmpty) None
        else {
          val bitSums = new Array[Int](SimhashBits)
          hs.foreach { h =>
            val h2a = (h * 1000003L + 12345L) % P
            val h2b = (h2a * 1000003L + 12345L) % P
            val h2c = (h2b * 1000003L + 12345L) % P
            var b = 0
            while (b < 31) {
              bitSums(b) += (if (((h2a >> b) & 1L) == 1L) 1 else -1); b += 1
            }
            while (b < 62) {
              bitSums(b) += (if (((h2b >> (b - 31)) & 1L) == 1L) 1 else -1); b += 1
            }
            bitSums(62) += (if ((h2c & 1L) == 1L) 1 else -1)
          }
          var sk = 0L
          var b = 0
          while (b < SimhashBits) { if (bitSums(b) > 0) sk |= (1L << b); b += 1 }
          Some((id, sk))
        }
      }
      .toDF("id", "simhash")
  }

  /** Recursion depth past which a SimHash group still hot joins directly
    * (see simhashPairs). */
  val MaxSplitDepth = 4

  /** SimHash near-dup pairs: hamming(simhash) <= maxHamming, a < b.
    *
    * Pigeonhole banding instead of a cross join: the 63-bit sketch splits
    * into maxHamming+1 disjoint bit bands; a pair within the hamming
    * budget cannot differ in every band, so candidates = pairs agreeing
    * on >= 1 band (an equi-join on (band, key)), then the exact hamming
    * verify. Output is IDENTICAL to the all-pairs filter — the banding is
    * lossless. (The pigeonhole needs the bands disjoint, not exhaustive:
    * <= maxHamming differing bits across maxHamming+1 disjoint bands
    * leaves some band clean even when a few top bits go unbanded.)
    *
    * Two guards close the hot-bucket quadratic a homogeneous corpus
    * would otherwise hit, both lossless (the all-pairs oracle is
    * unchanged):
    *
    *  1. Identical sketches never enter the banding. Ids are grouped by
    *     sketch VALUE first; within-value pairs are emitted directly
    *     (they are output, hamming 0 — that work is irreducible) and the
    *     band join runs over distinct sketch values, so "one sketch
    *     repeated n times" contributes n candidate rows, not n² — and
    *     every surviving bucket member is pairwise distinct.
    *
    *  2. Buckets of distinct values larger than
    *     `spark.graft.simhash.bucketCap` recurse instead of joining:
    *     every member of a hot bucket agrees on that band's bits, so
    *     those bits are stripped and the REMAINDER re-split into
    *     maxHamming+1 sub-bands, on which the same pigeonhole holds (the
    *     pair's <= maxHamming diffs all lie in the remainder). A hot
    *     bucket holding a group's ENTIRE membership short-circuits: all
    *     of the group's pairs agree on that band, so the group recurses
    *     through it alone — its other bands are skipped outright (they
    *     could only rediscover the same pairs), which is what keeps a
    *     homogeneous corpus from multiplying one group into a chain per
    *     band at every level. Proper (sub-group) hot buckets branch, and
    *     `MaxSplitDepth` (4) bounds the
    *     compounding: groups still hot at the depth cap — values
    *     agreeing on the full banded prefix and still concentrated —
    *     join directly within the group, which at that point is the
    *     honest cost of the answer, not an accident of banding. */
  def simhashPairs(sketches: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimhashBits,
      s"maxHamming in [0, $SimhashBits) for a $SimhashBits-bit sketch, got $maxHamming")
    val spark = sketches.sparkSession
    val cap = graft.core.GraftConf.SimhashBucketCap.get(spark)
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val nBands = maxHamming + 1
    // The sketch pass feeds FIVE consumers (zero-pair self-join both sides,
    // the distinct-value seed, and the two id-expansion joins at the end) —
    // checkpoint it once so the upstream flatMap (shingling + bit-sums over
    // every document) runs once, not once per consumer (r18: the bench
    // showed 9.4 CPU-s of task time for a ~2 CPU-s sketch pass).
    val sk = sketches.select(col("id"), col("simhash")).localCheckpoint()
    // pairs of ids sharing one sketch value: exactly the hamming-0 output
    val zeroPairs = sk.as("x").join(sk.as("y"), Seq("simhash"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"), lit(0).as("hamming"))
    // banding over DISTINCT sketch values, recursing on over-cap buckets
    // (sv = sketch value; gkey = bucket-chain identity; rest = unbanded bits)
    var cur = sk.select(col("simhash").as("sv")).distinct()
      .select(col("sv"), lit("").as("gkey"), col("sv").as("rest"))
    var restBits = SimhashBits
    var cands = List.empty[DataFrame]
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var done = false
    var level = 0
    def stripExpr(bandCol: String, w: Int) =
      expr(s"shiftleft(shiftright(rest, ($bandCol + 1) * $w), $bandCol * $w)" +
        s" | (rest & (shiftleft(CAST(1 AS BIGINT), $bandCol * $w) - 1))").as("rest")
    while (!done) {
      val w = restBits / nBands
      if (w == 0 || level >= MaxSplitDepth) {
        // remainder too narrow to split (a surviving group differs only
        // inside < nBands bits) or depth cap reached — join the groups
        cands ::= cur.as("x").join(cur.as("y"), Seq("gkey"))
          .filter(col("x.sv") < col("y.sv"))
          .select(col("x.sv").as("sa"), col("y.sv").as("sb"))
        done = true
      } else {
        // one posexplode pass per level — per-band unioned selects would
        // recompute the distinct scan once per (band, side)
        val keyCols = (0 until nBands).map(i =>
          shiftright(col("rest"), i * w).bitwiseAND(lit((1L << w) - 1)))
        val bands = cur.select(col("sv"), col("gkey"), col("rest"),
            posexplode(array(keyCols: _*)).as(Seq("band", "bkey")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted += bands
        // over-cap buckets with their group size: at most n*nBands/cap
        // rows, so a driver-side split into full-group vs proper is safe
        val gsizes = cur.groupBy(col("gkey")).agg(count(lit(1)).as("_gc"))
        val hotInfo = bands.groupBy(col("gkey"), col("band"), col("bkey"))
          .agg(count(lit(1)).as("_bc")).filter(col("_bc") > cap)
          .join(gsizes, "gkey")
          .select(col("gkey"), col("band"), col("bkey"), col("_bc"), col("_gc"))
          .collect()
        if (hotInfo.isEmpty) {
          cands ::= bands.as("x").join(bands.as("y"), Seq("gkey", "band", "bkey"))
            .filter(col("x.sv") < col("y.sv"))
            .select(col("x.sv").as("sa"), col("y.sv").as("sb"))
          done = true
        } else {
          import spark.implicits._
          // groups with a hot FULL bucket recurse single-chain on its band
          val fullGroups = hotInfo.filter(r => r.getLong(3) == r.getLong(4))
            .groupBy(_.getString(0))
            .map { case (g, rs) => (g, rs.map(_.getInt(1)).min) }.toSeq
          val fullSet = fullGroups.map(_._1).toSet
          val branches = hotInfo
            .filter(r => !fullSet.contains(r.getString(0)))
            .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
          log.warn(s"SimHash level $level: ${hotInfo.length} band bucket(s) over " +
            s"$cap distinct sketches (${fullGroups.size} full-group chains, " +
            s"${branches.length} branching) recurse into a ${restBits - w}-bit " +
            s"sub-band split (lossless)")
          val notFull =
            if (fullGroups.isEmpty) bands
            else bands.join(broadcast(fullSet.toSeq.toDF("gkey")), Seq("gkey"), "left_anti")
          val cold =
            if (branches.isEmpty) notFull
            else notFull.join(broadcast(branches.toDF("gkey", "band", "bkey")),
              Seq("gkey", "band", "bkey"), "left_anti")
          cands ::= cold.as("x").join(cold.as("y"), Seq("gkey", "band", "bkey"))
            .filter(col("x.sv") < col("y.sv"))
            .select(col("x.sv").as("sa"), col("y.sv").as("sb"))
          // next level: full-group chains strip their designated band
          // (whole group, gkey unchanged); proper hot buckets branch
          val nextFull =
            if (fullGroups.isEmpty) None
            else Some(cur.join(broadcast(fullGroups.toDF("gkey", "fband")), "gkey")
              .select(col("sv"), col("gkey"), stripExpr("fband", w)))
          val nextBranch =
            if (branches.isEmpty) None
            else Some(bands.join(broadcast(branches.toDF("gkey", "band", "bkey")),
                Seq("gkey", "band", "bkey"))
              .select(col("sv"),
                concat_ws("|", col("gkey"), col("band"), col("bkey")).as("gkey"),
                stripExpr("band", w)))
          cur = (nextFull.toSeq ++ nextBranch.toSeq).reduce(_ unionByName _)
          restBits -= w
          level += 1
        }
      }
    }
    // verify distinct-value candidates, then expand back to id pairs.
    // valuePairs is MATERIALIZED (localCheckpoint) before the band frames
    // unpersist: the candidate plans reference them, and unpersisting a
    // lazy result frame silently re-derived the whole banding DAG —
    // including the per-document sketch pass — when the caller finally
    // consumed it (r18; the persist only ever paid off for the hotInfo
    // collect above). The checkpointed frame is tiny: distinct
    // (sketch-value, sketch-value) pairs within the hamming budget.
    val valuePairs = cands.reduce(_ unionByName _)
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .localCheckpoint()
    val crossPairs = valuePairs
      .join(sk.select(col("simhash").as("sa"), col("id").as("ia")), "sa")
      .join(sk.select(col("simhash").as("sb"), col("id").as("ib")), "sb")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("hamming"))
    val res = zeroPairs.unionByName(crossPairs)
    persisted.foreach(_.unpersist())
    res
  }

  /** Embedding-space near-duplicates: cosine distance < eps, a < b —
    * the eps range join specialized to dedup.
    *
    * Scale route (past `NearDupCrossJoinMax` rows, eps <= 1):
    * cosine distance maps onto chord distance over l2-normalized vectors
    * (‖u−v‖² = 2·cosdist), so the ball-cover ε-join prunes candidates by
    * the triangle inequality — with a small relative margin on the chord
    * radius to absorb normalization rounding — and the exact cosine
    * expression verifies each candidate, keeping output identical to the
    * all-pairs filter. Below the gate (or eps > 1, where zero-norm rows
    * can pair at dist exactly 1) the plain range join runs. */
  def embeddingNearDup(df: DataFrame, eps: Double,
      idCol: String = "id", vecCol: String = "vec"): DataFrame =
    if (eps <= 1.0 && df.count() > NearDupCrossJoinMax)
      embeddingNearDupPruned(df, eps, idCol, vecCol)
    else
      graft.ops.PairwiseDistance.epsNeighborhood(
          df, df, eps, graft.core.Metric.Cosine, idCol, vecCol, idCol, vecCol)
        .filter(col("aid") < col("bid"))

  /** Rows past which embeddingNearDup takes the ball-cover route. */
  val NearDupCrossJoinMax = 20000L

  /** Ball-cover-pruned route (see embeddingNearDup doc). */
  private[graft] def embeddingNearDupPruned(df: DataFrame, eps: Double,
      idCol: String, vecCol: String): DataFrame = {
    import graft.ops.BallCover
    val d = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // zero-norm rows sit at cosine dist exactly 1.0 from everything — they
    // cannot enter any eps <= 1 result, so they drop out of the index
    val unit = d
      .withColumn("_n", sqrt(aggregate(col("vec"), lit(0.0),
        (s, x) => s + x.cast("double") * x.cast("double"))))
      .filter(col("_n") > 0.0)
      .select(col("id"),
        graft.index.IvfFlatIndex.unitNormCol(col("vec")).as("uvec"))
      .transform(graft.core.Frames.materialize(_))
    val nRows = unit.count()
    val idx = BallCover.build(unit, math.max(2, math.sqrt(nRows.toDouble).toInt),
      idCol = "id", vecCol = "uvec")
    val chordEps = math.sqrt(2.0 * eps) * (1.0 + 1e-6)
    val cand = BallCover.epsNeighbors(idx,
        unit.select(col("id").as("qid"), col("uvec").as("qvec")), chordEps)
      .filter(col("qid") < col("id"))
      .select(col("qid").as("aid"), col("id").as("bid"))
    val res = cand
      .join(d.select(col("id").as("aid"), col("vec").as("_avec")), "aid")
      .join(d.select(col("id").as("bid"), col("vec").as("_bvec")), "bid")
      .select(col("aid"), col("bid"),
        graft.functions.vector_distance(graft.core.Metric.Cosine,
          col("_avec"), col("_bvec")).as("dist"))
      .filter(col("dist") < eps)
    unit.unpersist()
    res
  }
}
