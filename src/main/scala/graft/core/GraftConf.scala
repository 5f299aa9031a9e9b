package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Every `spark.graft.*` session setting, declared once: its key, its
  * default and a one-line doc, in the manner of Spark's `SQLConf` entries.
  * Code reads a setting only through its entry (`Entry.get`), so a key's
  * string and its default each appear in one place, and `all` is the
  * table the README's configuration section mirrors.
  *
  * A `spark.graft.*` key set in the session that no entry declares — a
  * misspelling, or a setting that has been removed (docs/MIGRATION.md) —
  * fails the next read instead of silently reading a default. The check
  * walks the session's conf map on the driver and runs no Spark job.
  */
object GraftConf {
  final val Prefix = "spark.graft."

  /** One declared setting. */
  final class Entry[T] private[GraftConf] (name: String, val default: T, val doc: String,
      parse: String => T) {
    val key: String = Prefix + name

    /** The session's value, or `default` when unset. */
    def get(spark: SparkSession): T = {
      checkDeclared(spark)
      spark.conf.getOption(key).fold(default)(parse)
    }

    /** Run `body` with this setting at `value`, then restore what the
      * session held before (set or unset). */
    def withValue[R](spark: SparkSession, value: T)(body: => R): R = {
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, value.toString)
      try body
      finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  private val registry = ArrayBuffer.empty[Entry[_]]
  private def entry[T](name: String, default: T, doc: String)(parse: String => T): Entry[T] = {
    val e = new Entry(name, default, doc, parse)
    registry += e
    e
  }
  private def bool(name: String, default: Boolean, doc: String) =
    entry(name, default, doc)(_.toBoolean)
  private def int(name: String, default: Int, doc: String) =
    entry(name, default, doc)(_.toInt)
  private def long(name: String, default: Long, doc: String) =
    entry(name, default, doc)(_.toLong)
  private def double(name: String, default: Double, doc: String) =
    entry(name, default, doc)(_.toDouble)

  // local-kernel route gate (graft.graphops.LocalKernel)
  val LocalKernelEnabled = bool("localKernel.enabled", true,
    "Allow the single-pass driver-side kernel routes; false plans every operator distributed.")
  val LocalKernelMaxEdges = long("localKernel.maxEdges", 4000000L,
    "Most edges or candidate entries a local-kernel route may collect.")
  val LocalKernelMaxVectors = long("localKernel.maxVectors", 400000L,
    "Most vectors or query rows a local-kernel route may collect.")

  // knn_join planner and refine
  val KnnJoinMinIndexRows = long("knnJoin.minIndexRows", 100000L,
    "A relation with fewer rows skips its registered index; <= 0 always uses it.")
  val KnnJoinTargetRecall = double("knnJoin.targetRecall", 0.95,
    "Recall target that auto-probe registrations read off a layout's measured curve.")
  val KnnJoinDirectFinish = bool("knnJoin.directFinish.enabled", true,
    "Answer an exact candidate set from the index without a refine join.")
  val KnnJoinBruteArm = bool("knnJoin.bruteArm.enabled", true,
    "Decline an auto registration whose route costs at least the exact scan.")
  val KnnJoinFilteredRoute = bool("knnJoin.filteredRoute.enabled", true,
    "Let a filtered data child take the widened index route.")
  val KnnJoinMaxWidenedCoarse = int("knnJoin.maxWidenedCoarse", 4096,
    "Largest widened reorder depth a filtered index route may search.")
  val KnnJoinMinFilterRate = double("knnJoin.minFilterRate", 0.05,
    "A filter passing fewer rows than this refuses the widened index route.")
  val RefineMaxBroadcastBytesPerQuery = long("refine.maxBroadcastBytesPerQuery", 8192L,
    "Refine broadcasts its candidates while depth x 16 B per query is within this.")
  val BruteForceFusedMinPairs = long("bruteforce.fusedMinPairs", 4000000L,
    "Estimated data x query pairs below which brute force plans one crossJoin stage.")

  // index builds
  val IndexRecallCurve = bool("index.recallCurve.enabled", true,
    "Measure and save each layout's probe/recall curve at save time.")
  val IndexDepthHint = bool("index.depthHint.enabled", true,
    "Measure and save the compressed layouts' reorder-depth hint.")
  val AllNeighborsBlockRows = int("allNeighbors.blockRows", 8192,
    "A k-means cell larger than this is tiled into hash blocks in the all-neighbors build.")

  // text dedup and clustering statistics
  val LshBucketCap = long("lsh.bucketCap", 100000L,
    "MinHash LSH band buckets larger than this are dropped from the pair join.")
  val SimhashBucketCap = long("simhash.bucketCap", 100000L,
    "SimHash band buckets larger than this are re-split instead of joined.")
  val SilhouetteExactMaxRows = long("silhouette.exactMaxRows", 20000L,
    "Most rows scored by the exact silhouette; larger inputs are sampled.")
  val SilhouetteSamplePerCluster = int("silhouette.samplePerCluster", 256,
    "Rows per cluster the sampled silhouette scores against.")

  // streaming and tiered ingest
  val StreamTransientCheckpoint = bool("stream.transientCheckpoint", true,
    "Drop the checkpoint checksum files and use the rename-based file manager for one-run streams.")
  val TieredAutoCompact = bool("tiered.autoCompact.enabled", true,
    "Compact a tiered layout's delta once an append takes it past min_ann_rows.")
  val TieredLease = bool("tiered.lease.enabled", true,
    "Hold an .ingest_lease file so a second writing process fails loudly.")
  val TieredLeaseStaleMs = long("tiered.lease.staleMs", 60000L,
    "Age after which another writer's ingest lease is taken over.")

  /** Every declared setting, in declaration order. */
  val all: Seq[Entry[_]] = registry.toSeq

  private val declared: Set[String] = all.iterator.map(_.key).toSet

  /** Fail on a `spark.graft.*` key the session holds that no entry declares. */
  private def checkDeclared(spark: SparkSession): Unit =
    spark.conf.getAll.keysIterator.find(k => k.startsWith(Prefix) && !declared(k))
      .foreach { k =>
        throw new IllegalArgumentException(s"$k is not a graft setting; the nearest " +
          s"declared key is ${nearest(k)} (graft.core.GraftConf lists every key; " +
          "docs/MIGRATION.md the removed ones)")
      }

  private def nearest(k: String): String = {
    val distance = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
    all.map(_.key).minBy(distance(k, _).intValue)
  }
}
