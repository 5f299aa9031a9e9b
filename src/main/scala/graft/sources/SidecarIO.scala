package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._

/** DRIVER-SIDE reads and writes of the engine's tiny parquet sidecars
  * (meta, recall_curve, depth_meta, ef_curve, hnsw_meta, tiered_meta,
  * delta_commits) and of the layout state the driver holds anyway
  * (centroids, codebooks, cluster codebooks, rotation, sq_model).
  *
  * Why not `spark.read.parquet(...).head()` or
  * `df.coalesce(1).write.parquet(...)`: every such call is a full Spark
  * JOB — plan + schedule + one task + result fetch, ~50-100 ms of pure
  * fixed cost — to move a row the driver could read or write in ~1 ms.
  * The kNN-join resolver consults up to a dozen sidecars per planning pass
  * (population, curves, depth hints, cost-model stats), and every layout
  * save and tiered-ingest append rewrites several of them, so on the r17
  * job-count profile the cost-choice gates ran 58-86 one-task jobs each
  * and a 500-row tiered append ran 7 jobs, nearly all sidecar traffic.
  * Metadata must not cost cluster jobs — the reference's plan factory
  * reads index headers in-process for the same reason (search_plan.cuh).
  * Reads go through parquet-mr's Group reader (shipped with Spark), writes
  * through Spark's own parquet writer (`ParquetFileFormat.prepareWrite`),
  * both in-process with zero Spark jobs — so a sidecar written here has
  * the footer, schema and rows a Spark write would have produced.
  *
  * Scope guard: sidecars and driver-held layout state only.
  *   - `write` accepts only a driver-held frame (`Frames.isLocal`: its
  *     rows already sit on the driver); data keeps Spark's distributed
  *     writer.
  *   - `readRows` hard-caps the rows read and is for directories KNOWN
  *     small (row counts bounded by probe-curve points / one-row metas);
  *     `readState` reads every row, for the layout state a loader holds
  *     in memory regardless of its size. Data-bearing directories keep
  *     the distributed path. */
object SidecarIO {

  /** The visible data files of `dir` in path order; `recursive` also
    * walks its subdirectories (the `list_id=N` partitions of a list table). */
  private def dataFiles(spark: SparkSession, dir: String,
      recursive: Boolean = false): Option[Seq[Path]] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def visible(s: org.apache.hadoop.fs.FileStatus) =
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    def walk(d: Path): Iterator[Path] = fs.listStatus(d).iterator.filter(visible).flatMap { s =>
      if (s.isFile) Iterator(s.getPath).filter(_ => s.getLen > 0)
      else if (recursive) walk(s.getPath)
      else Iterator.empty
    }
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isFile) Some(Seq(p))
    else Some(walk(p).toSeq.sortBy(_.toString))
  }

  /** Footer-only total row count of the parquet files under `dir`,
    * partition subdirectories included — reads parquet metadata, zero
    * data pages, zero jobs. None when the path is missing. */
  def rowCount(spark: SparkSession, dir: String): Option[Long] =
    dataFiles(spark, dir, recursive = true).map { files =>
      val conf = spark.sessionState.newHadoopConf()
      files.iterator.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }

  /** Read up to `maxRows` rows of a small parquet directory in-process.
    * Each row is fieldName -> value for the TOP-LEVEL PRIMITIVE fields
    * (Int/Long/Float/Double/Boolean/String) and lists of primitives;
    * other nested groups (structs, maps) are skipped — no sidecar needs
    * them. A NULL field is absent from its row's map. Throws if the
    * directory holds more than `maxRows` rows — that is a misuse (a data
    * directory), not a bigger sidecar. None when the path is missing. */
  def readRows(spark: SparkSession, dir: String,
      maxRows: Int = 65536): Option[Seq[Map[String, Any]]] =
    dataFiles(spark, dir).map { files =>
      val conf = spark.sessionState.newHadoopConf()
      val out = Vector.newBuilder[Map[String, Any]]
      var n = 0
      files.foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new GroupReadSupport(), f).withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            if (n >= maxRows)
              throw new IllegalStateException(
                s"SidecarIO.readRows($dir): more than $maxRows rows — " +
                  "this is a data directory, not a sidecar")
            out += groupToMap(g)
            n += 1
            g = reader.read()
          }
        } finally reader.close()
      }
      out.result()
    }

  /** Every row of a directory holding a layout's DRIVER-HELD state
    * (centroids, codebooks, cluster codebooks, rotation) — `readRows`
    * without the cap. That state is nLists or nLists·2^pqBits rows, which
    * passes the sidecar cap at ordinary sizes (1024 lists × 256 centers),
    * and the loader holds all of it in memory whatever its size. */
  def readState(spark: SparkSession, dir: String): Option[Seq[Map[String, Any]]] =
    readRows(spark, dir, Int.MaxValue)

  /** First row of a sidecar (files in name order) — the `head()` analog.
    * Stops after one row; later files are never opened. */
  def readHead(spark: SparkSession, dir: String): Option[Map[String, Any]] =
    dataFiles(spark, dir).flatMap { files =>
      val conf = spark.sessionState.newHadoopConf()
      files.iterator.flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new GroupReadSupport(), f).withConf(conf).build()
        try Option(reader.read()).map(groupToMap)
        finally reader.close()
      }.nextOption()
    }

  private def primValue(g: org.apache.parquet.example.data.Group, i: Int,
      j: Int): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    g.getType.getType(i).asPrimitiveType().getPrimitiveTypeName match {
      case INT32 => g.getInteger(i, j)
      case INT64 => g.getLong(i, j)
      case FLOAT => g.getFloat(i, j)
      case DOUBLE => g.getDouble(i, j)
      case BOOLEAN => g.getBoolean(i, j)
      case BINARY | FIXED_LEN_BYTE_ARRAY => g.getString(i, j)
      case _ => null
    }
  }

  /** A LIST-annotated field as a Seq of primitives (Spark's 3-level list
    * encoding `group (LIST) { repeated group list { element } }`, with the
    * 2-level legacy shape handled too); None when the field is not a
    * list-of-primitive. */
  private def listValues(g: org.apache.parquet.example.data.Group,
      i: Int): Option[Seq[Any]] = {
    val f = g.getType.getType(i)
    if (f.isPrimitive || g.getFieldRepetitionCount(i) == 0) return None
    Option(f.getLogicalTypeAnnotation) match {
      case Some(_: org.apache.parquet.schema.LogicalTypeAnnotation
          .ListLogicalTypeAnnotation) =>
        val lg = g.getGroup(i, 0)
        val n = lg.getFieldRepetitionCount(0)
        val out = Vector.newBuilder[Any]
        val innerPrimitive = lg.getType.getType(0).isPrimitive
        var j = 0
        while (j < n) {
          if (innerPrimitive) out += primValue(lg, 0, j) // 2-level legacy
          else {
            val e = lg.getGroup(0, j) // 3-level: group "list" { element }
            out += (if (e.getFieldRepetitionCount(0) > 0) primValue(e, 0, 0)
            else null)
          }
          j += 1
        }
        Some(out.result())
      case _ => None
    }
  }

  private def groupToMap(g: org.apache.parquet.example.data.Group): Map[String, Any] = {
    val schema = g.getType
    val b = Map.newBuilder[String, Any]
    var i = 0
    while (i < schema.getFieldCount) {
      val f = schema.getType(i)
      if (f.isPrimitive && !f.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED)
          && g.getFieldRepetitionCount(i) > 0) {
        val v = primValue(g, i, 0)
        if (v != null) b += schema.getFieldName(i) -> v
      } else if (!f.isPrimitive) {
        listValues(g, i).foreach(v => b += schema.getFieldName(i) -> v)
      }
      i += 1
    }
    b.result()
  }

  private def footer(spark: SparkSession, f: Path) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(f, spark.sessionState.newHadoopConf()))
    try r.getFooter.getFileMetaData finally r.close()
  }

  /** The first data file under `dir` in name order, descending into
    * subdirectories (partition directories, batch directories) when the
    * directory itself holds none. */
  private def firstDataFile(spark: SparkSession, dir: String): Option[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def visible(s: org.apache.hadoop.fs.FileStatus) =
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    def first(d: Path): Option[Path] = {
      val (files, dirs) = fs.listStatus(d).toSeq.filter(visible).sortBy(_.getPath.getName)
        .partition(_.isFile)
      files.find(_.getLen > 0).map(_.getPath)
        .orElse(dirs.iterator.flatMap(s => first(s.getPath)).nextOption())
    }
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isFile) Some(p)
    else first(p)
  }

  /** The Spark schema a Spark writer recorded in the footer of the first
    * data file under `dir` (its row-metadata key) — what schema inference
    * would return, read on the driver instead of by an inference job.
    * None when the path has no data file or the file was not written by
    * Spark. */
  def sparkSchema(spark: SparkSession, dir: String): Option[StructType] =
    firstDataFile(spark, dir).flatMap { f =>
      Option(footer(spark, f).getKeyValueMetaData.get(
        org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
          .SPARK_METADATA_KEY))
    }.map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The parquet table at `dir` read with the schema its writer recorded
    * in a footer (`sparkSchema`), plus the int column of a table
    * partitioned by `partition` — the schema inference would return,
    * without its job. By inference when no footer has it. For list
    * tables, graph tables and the tiered delta, not only sidecars: only
    * the schema is read on the driver. */
  def readTable(spark: SparkSession, dir: String, partition: Option[String] = None,
      options: Map[String, String] = Map.empty): DataFrame =
    readTables(spark, Seq(dir), partition, options)

  /** `readTable` over several directories of one table: the union of one
    * relation per directory, each read with the schema of the first
    * footer found in `dirs` order. Spark discovers a partition column
    * only under a common base path, and sibling directories like
    * `g_000000/list_id=3` and `g_000001/list_id=3` have none, so one
    * multi-path relation fails with conflicting directory structures. */
  def readTables(spark: SparkSession, dirs: Seq[String], partition: Option[String] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    val schemed = dirs.iterator.flatMap(sparkSchema(spark, _)).nextOption()
      .fold(reader)(s => reader.schema(partition.fold(s)(s.add(_, IntegerType))))
    dirs.map(schemed.parquet).reduce(_ union _)
  }

  /** A small sidecar as a driver-held frame: the Spark schema its writer
    * recorded and every row (`readRows`'s cap applies). Feeding it to
    * `write` copies the sidecar verbatim with no job. For the field types
    * sidecars use (int, long, float, double, boolean, string, arrays of
    * those), whose `readRows` values are already Spark's external types.
    * None when the path is missing. */
  def readLocal(spark: SparkSession, dir: String): Option[DataFrame] =
    readRows(spark, dir).map { rows =>
      val schema = sparkSchema(spark, dir).getOrElse(throw new IllegalStateException(
        s"SidecarIO.readLocal($dir): no Spark schema in the footer"))
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row.fromSeq(schema.fieldNames.toSeq
          .map(r.getOrElse(_, null)))): _*),
        schema)
    }

  /** Overwrite `dir` with the rows of a DRIVER-HELD frame, in-process and
    * with no Spark job: Spark's own parquet writer (`prepareWrite`, then
    * one `OutputWriter`) writes a single part file under a `_`-prefixed
    * name — invisible to readers — which is renamed into place before the
    * `_SUCCESS` marker, so Spark and `SidecarIO` read back the schema,
    * rows and footer metadata a `coalesce(1).write.parquet` would have
    * left. An empty frame writes one file holding only the schema, as
    * Spark does. A frame that is not driver-held is refused: its rows
    * would have to be computed by a job, and data keeps Spark's writer. */
  def write(df: DataFrame, dir: String): Unit = {
    val rel = df.queryExecution.optimizedPlan match {
      case r: LocalRelation => r
      case other => throw new IllegalArgumentException(
        s"SidecarIO.write($dir): not a driver-held frame (${other.nodeName}) — " +
          "write data with Spark's writer")
    }
    val spark = df.sparkSession
    val schema = rel.schema
    val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-sidecar", 0), TaskType.MAP, 0), 0)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, attempt)
    val out = new Path(dir)
    val fs = out.getFileSystem(job.getConfiguration)
    fs.delete(out, true)
    fs.mkdirs(out)
    val name = s"part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(ctx)}"
    val staged = new Path(out, "_" + name)
    val writer = factory.newInstance(staged.toString, schema, ctx)
    try rel.data.foreach(writer.write)
    finally writer.close()
    if (!fs.rename(staged, new Path(out, name)))
      throw new java.io.IOException(s"SidecarIO.write($dir): rename of $staged failed")
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }

  /** A list field coerced to Array[Float] (loader convenience). */
  def asFloats(v: Any): Array[Float] =
    v.asInstanceOf[Seq[Any]].iterator.map(_.asInstanceOf[Number].floatValue).toArray

  /** A list field coerced to Array[Double] (loader convenience). */
  def asDoubles(v: Any): Array[Double] =
    v.asInstanceOf[Seq[Any]].iterator.map(_.asInstanceOf[Number].doubleValue).toArray

  /** Numeric coercions for loader convenience (parquet writers may have
    * stored an int as int32 or int64 depending on the frame that wrote
    * it). */
  def asLong(v: Any): Long = v.asInstanceOf[Number].longValue
  def asInt(v: Any): Int = v.asInstanceOf[Number].intValue
  def asDouble(v: Any): Double = v.asInstanceOf[Number].doubleValue
}
