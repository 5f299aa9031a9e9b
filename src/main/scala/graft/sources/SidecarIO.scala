package graft.sources

import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._

/** DRIVER-SIDE reads and writes of the engine's tiny parquet sidecars
  * (meta, recall_curve, depth_meta, ef_curve, hnsw_meta, tiered_meta,
  * delta_commits) and of the layout state the driver holds
  * anyway (centroids, codebooks, cluster codebooks, rotation, sq_model),
  * plus the small files beside them (the ingest lease, commit markers).
  *
  * Why not `spark.read.parquet(...).head()` or
  * `df.coalesce(1).write.parquet(...)`: every such call is a full Spark
  * JOB — plan + schedule + one task + result fetch, ~50-100 ms of pure
  * fixed cost — to move a row the driver could read or write in ~1 ms.
  * The kNN-join resolver consults up to a dozen sidecars per planning pass
  * (population, curves, depth hints, cost-model stats), and every layout
  * save and tiered-ingest append rewrites several of them. Metadata must
  * not cost cluster jobs — the reference's plan factory reads index
  * headers in-process for the same reason (search_plan.cuh). Reads go
  * through parquet-mr's record assembly (shipped with Spark), writes
  * through Spark's own parquet writer (`ParquetFileFormat.prepareWrite`),
  * both in-process with zero Spark jobs — so a sidecar written here has
  * the footer, schema and rows a Spark write would have produced.
  *
  * Each call costs about what its bytes cost: on a 4-vCPU host a one-row
  * `readHead` takes about 1 ms, a one-row `write` of `rows(...)` about
  * 2.5 ms and a staged `swap` about 3 ms (median of 100+ calls). A `toDF`
  * frame handed to `write` adds about 10 ms of analysis and optimization,
  * so the engine's writers hand `Rows`. Two traps in the libraries keep a
  * call from that cost if stepped in:
  *   - parquet-mr's `ParquetReader.builder(...)` and one-argument
  *     `ParquetFileReader.open(file)` each build a fresh Hadoop
  *     `Configuration`, which parses core-default.xml and core-site.xml
  *     again on every open — milliseconds per sidecar, a fifth of the
  *     driver's CPU samples inside tiered appends and plans when the reads
  *     here used them. Reads here build their options from one
  *     already-loaded configuration per call
  *     (`HadoopReadOptions.builder(conf)`) and assemble records row group
  *     by row group; a Tier-1 source lint (SidecarIOSuite) keeps those
  *     calls, `new Configuration(` and `FileUtil.copy(` out of `src/main`.
  *   - Hadoop's local file system is a `ChecksumFileSystem`: each file it
  *     creates gets a `.crc` companion, and without libhadoop each file
  *     created forks `chmod` (~2.4 ms) — five forks for a one-row sidecar
  *     written through it. Writes, copies and small files here go through
  *     its raw file system, so no `.crc` is written, and on the local file
  *     system through `NoChmodLocalFileSystem`, so nothing forks.
  *     Reads keep the checksummed view, so a `.crc` a Spark writer left
  *     beside an older sidecar is still verified. Other file systems keep
  *     their own code path.
  *
  * An operation that touches many sidecars (a tiered append, a fold, a
  * save) runs inside `withConf`, so the session's Hadoop configuration is
  * copied once for all of them instead of once per call.
  *
  * Scope guard: sidecars and driver-held layout state only.
  *   - `write` accepts only rows the driver holds (`Rows`, or a frame
  *     that is a `LocalRelation`); data keeps Spark's distributed writer.
  *   - `readRows` hard-caps the rows read and is for directories KNOWN
  *     small (row counts bounded by probe-curve points / one-row metas);
  *     `readState` reads every row, for the layout state a loader holds
  *     in memory regardless of its size. Data-bearing directories keep
  *     the distributed path. */
object SidecarIO {

  // ------------------------------------------------ configuration and FS

  private val scopedConf = new ThreadLocal[Configuration]

  /** Run `body` with one Hadoop configuration for every SidecarIO call and
    * file-system handle it makes on this thread; nested scopes share the
    * outermost one. */
  def withConf[A](spark: SparkSession)(body: => A): A =
    if (scopedConf.get != null) body
    else {
      scopedConf.set(spark.sessionState.newHadoopConf())
      try body finally scopedConf.remove()
    }

  /** The scope's configuration, or the session's copied afresh. */
  private def hadoopConf(spark: SparkSession): Configuration =
    Option(scopedConf.get).getOrElse(spark.sessionState.newHadoopConf())

  /** The file system of `path` under `hadoopConf`. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(hadoopConf(spark))

  /** What writes go through: the raw file system under a checksummed one,
    * and for the local one a raw file system that creates without `chmod`. */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case l: LocalFileSystem =>
      val local = new NoChmodLocalFileSystem
      local.initialize(l.getUri, l.getConf)
      local
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def status(fs: FileSystem, p: Path): Option[FileStatus] =
    try Some(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }

  // --------------------------------------------------------------- reads

  private def visible(s: FileStatus): Boolean =
    !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")

  /** The visible data files of `dir` in path order; `recursive` also
    * walks its subdirectories (the `list_id=N` partitions of a list table). */
  private def dataFiles(conf: Configuration, dir: String,
      recursive: Boolean = false): Option[Seq[FileStatus]] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    def walk(d: Path): Iterator[FileStatus] = fs.listStatus(d).iterator.filter(visible).flatMap { s =>
      if (s.isFile) Iterator(s).filter(_.getLen > 0)
      else if (recursive) walk(s.getPath)
      else Iterator.empty
    }
    status(fs, p).map { s =>
      if (s.isFile) Seq(s) else walk(p).toSeq.sortBy(_.getPath.toString)
    }
  }

  /** Open `f` with read options built from `conf` — never from a fresh
    * configuration, which would parse the Hadoop XML resources again. */
  private def open(conf: Configuration, f: FileStatus): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
      HadoopReadOptions.builder(conf).build())

  /** The records of an open file, assembled row group by row group. */
  private def records(r: ParquetFileReader): Iterator[Group] = {
    val schema = r.getFooter.getFileMetaData.getSchema
    val io = new ColumnIOFactory().getColumnIO(schema)
    Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
      val rows = io.getRecordReader(pages, new GroupRecordConverter(schema))
      Iterator.fill(pages.getRowCount.toInt)(rows.read())
    }
  }

  /** Footer-only total row count of the parquet files under `dir`,
    * partition subdirectories included — reads parquet metadata, zero
    * data pages, zero jobs. None when the path is missing. */
  def rowCount(spark: SparkSession, dir: String): Option[Long] = {
    val conf = hadoopConf(spark)
    dataFiles(conf, dir, recursive = true).map { files =>
      files.iterator.map { f =>
        val r = open(conf, f)
        try r.getRecordCount finally r.close()
      }.sum
    }
  }

  /** Read up to `maxRows` rows of a small parquet directory in-process.
    * Each row is fieldName -> value for the TOP-LEVEL PRIMITIVE fields
    * (Int/Long/Float/Double/Boolean/String) and lists of primitives;
    * other nested groups (structs, maps) are skipped — no sidecar needs
    * them. A NULL field is absent from its row's map. Throws if the
    * directory holds more than `maxRows` rows — that is a misuse (a data
    * directory), not a bigger sidecar. None when the path is missing. */
  def readRows(spark: SparkSession, dir: String,
      maxRows: Int = 65536): Option[Seq[Map[String, Any]]] = {
    val conf = hadoopConf(spark)
    dataFiles(conf, dir).map { files =>
      val out = Vector.newBuilder[Map[String, Any]]
      var n = 0
      files.foreach { f =>
        val r = open(conf, f)
        try records(r).foreach { g =>
          if (n >= maxRows)
            throw new IllegalStateException(
              s"SidecarIO.readRows($dir): more than $maxRows rows — " +
                "this is a data directory, not a sidecar")
          out += groupToMap(g)
          n += 1
        } finally r.close()
      }
      out.result()
    }
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
  def readHead(spark: SparkSession, dir: String): Option[Map[String, Any]] = {
    val conf = hadoopConf(spark)
    dataFiles(conf, dir).flatMap { files =>
      files.iterator.flatMap { f =>
        val r = open(conf, f)
        try records(r).nextOption().map(groupToMap)
        finally r.close()
      }.nextOption()
    }
  }

  /** `readHead` of a sidecar that `swap` may be rewriting: a read landing
    * inside the swap's two-rename window RETRIES (a live writer finishes
    * in milliseconds — restoring eagerly would steal the `.old` directory
    * out from under its in-flight swap), and only after the retries are
    * exhausted is a still-absent target with `.old` present treated as a
    * crashed writer's leftover and renamed back for one final read. None
    * when the sidecar is genuinely missing (no target, no `.old`). */
  def readSwapped(spark: SparkSession, dir: String): Option[Map[String, Any]] =
    withConf(spark) {
      val fs = this.fs(spark, dir)
      val target = new Path(dir)
      val old = new Path(dir + ".old")
      // the two exists() reads are not atomic against a live writer's
      // renames (target absent at the first, the swap completing and
      // deleting `.old` before the second), so the verdict is confirmed
      // once after a beat
      def missing = !fs.exists(target) && !fs.exists(old) && {
        Thread.sleep(25)
        !fs.exists(target) && !fs.exists(old)
      }
      def attempt(n: Int): Option[Map[String, Any]] =
        (try readHead(spark, dir) catch { case NonFatal(_) => None }) match {
          case found @ Some(_) => found
          case None if missing => None
          case None if n < 4 =>
            Thread.sleep(50L << n)
            attempt(n + 1)
          case None =>
            if (!fs.exists(target) && fs.exists(old) && !raw(fs).rename(old, target))
              throw new IllegalStateException(
                s"sidecar at $dir is absent and restoring $dir.old failed")
            readHead(spark, dir)
        }
      attempt(0)
    }

  private def primValue(g: Group, i: Int, j: Int): Any = {
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
  private def listValues(g: Group, i: Int): Option[Seq[Any]] = {
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

  private def groupToMap(g: Group): Map[String, Any] = {
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

  /** The first data file under `dir` in name order, descending into
    * subdirectories (partition directories, batch directories) when the
    * directory itself holds none. */
  private def firstDataFile(conf: Configuration, dir: String): Option[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    def first(d: Path): Option[FileStatus] = {
      val (files, dirs) = fs.listStatus(d).toSeq.filter(visible).sortBy(_.getPath.getName)
        .partition(_.isFile)
      files.find(_.getLen > 0)
        .orElse(dirs.iterator.flatMap(s => first(s.getPath)).nextOption())
    }
    status(fs, p).flatMap(s => if (s.isFile) Some(s) else first(p))
  }

  /** The Spark schema a Spark writer recorded in the footer of the first
    * data file under `dir` (its row-metadata key) — what schema inference
    * would return, read on the driver instead of by an inference job.
    * None when the path has no data file or the file was not written by
    * Spark. */
  def sparkSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = hadoopConf(spark)
    firstDataFile(conf, dir).flatMap { f =>
      val r = open(conf, f)
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(
        org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
          .SPARK_METADATA_KEY))
      finally r.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** The parquet table at `dir` read with the schema its writer recorded
    * in a footer (`sparkSchema`), plus the int columns of a table
    * partitioned by `partitions` — the schema inference would return,
    * without its job. By inference when no footer has it. For list
    * tables, graph tables and the tiered delta, not only sidecars: only
    * the schema is read on the driver. `only` names the subdirectories
    * of `dir` to read (a tiered base tier's `g=N` list-store
    * directories): they are one relation under `basePath=dir`, so their
    * partition columns are discovered as in a read of all of `dir`. */
  def readTable(spark: SparkSession, dir: String, partitions: Seq[String] = Nil,
      options: Map[String, String] = Map.empty, only: Seq[String] = Nil): DataFrame = {
    val paths = if (only.isEmpty) Seq(dir) else only.map(c => s"$dir/$c")
    val reader = spark.read.options(options)
      .options(if (only.isEmpty) Map.empty[String, String] else Map("basePath" -> dir))
    paths.iterator.flatMap(sparkSchema(spark, _)).nextOption()
      .fold(reader)(s => reader.schema(partitions.foldLeft(s)(_.add(_, IntegerType))))
      .parquet(paths: _*)
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
      spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
        Row.fromSeq(schema.fieldNames.toSeq.map(r.getOrElse(_, null)))): _*), schema)
    }

  // -------------------------------------------------------------- writes

  /** A sidecar's content as the driver holds it: external rows (Spark's
    * external types: Long, String, Seq, ...) of `schema`. */
  final case class Rows(schema: StructType, data: Seq[Row])

  /** `data` with the schema `Seq(...).toDF(names: _*)` would have — the
    * encoder's field types and nullability under `names` — without
    * building the frame: a tuple per row, or a bare value for one column. */
  def rows[T: Encoder](data: Seq[T], names: String*): Rows = {
    val fields = implicitly[Encoder[T]].schema.fields
    require(fields.length == names.length,
      s"SidecarIO.rows: ${fields.length} fields, ${names.length} names")
    Rows(StructType(fields.zip(names).map { case (f, n) => f.copy(name = n) }),
      data.map {
        case p: Product if fields.length > 1 => Row.fromTuple(p)
        case v => Row(v)
      })
  }

  /** Overwrite `dir` with `rows`, in-process and with no Spark job. */
  def write(spark: SparkSession, dir: String, rows: Rows): Unit = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(rows.schema)
    writeInternal(spark, dir, rows.schema,
      rows.data.iterator.map(toInternal(_).asInstanceOf[InternalRow]))
  }

  /** Overwrite `dir` with the rows of a DRIVER-HELD frame (a
    * `LocalRelation` once optimized). A frame that is not driver-held is
    * refused: its rows would have to be computed by a job, and data keeps
    * Spark's writer. */
  def write(df: DataFrame, dir: String): Unit = {
    val rel = df.queryExecution.optimizedPlan match {
      case r: LocalRelation => r
      case other => throw new IllegalArgumentException(
        s"SidecarIO.write($dir): not a driver-held frame (${other.nodeName}) — " +
          "write data with Spark's writer")
    }
    writeInternal(df.sparkSession, dir, rel.schema, rel.data.iterator)
  }

  /** Spark's own parquet writer (`prepareWrite`, then one `OutputWriter`)
    * writes a single part file under a `_`-prefixed name — invisible to
    * readers — which is renamed into place before the `_SUCCESS` marker,
    * so Spark and `SidecarIO` read back the schema, rows and footer
    * metadata a `coalesce(1).write.parquet` would have left. No rows
    * writes one file holding only the schema, as Spark does. Every file
    * goes through the raw file system (the part file through a job
    * configuration that maps the scheme to it), so none gets a `.crc`. */
  private def writeInternal(spark: SparkSession, dir: String, schema: StructType,
      data: Iterator[InternalRow]): Unit = {
    val conf = hadoopConf(spark)
    val out = new Path(dir)
    val checked = out.getFileSystem(conf)
    val fs = raw(checked)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(conf)
    if (fs ne checked) {
      val scheme = fs.getUri.getScheme
      job.getConfiguration.set(s"fs.$scheme.impl", fs.getClass.getName)
      job.getConfiguration.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    }
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-sidecar", 0), TaskType.MAP, 0), 0)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, attempt)
    fs.delete(out, true)
    fs.mkdirs(out)
    val name = s"part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(ctx)}"
    val staged = new Path(out, "_" + name)
    val writer = factory.newInstance(staged.toString, schema, ctx)
    try data.foreach(writer.write)
    finally writer.close()
    if (!fs.rename(staged, new Path(out, name)))
      throw new java.io.IOException(s"SidecarIO.write($dir): rename of $staged failed")
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }

  /** `write` through a staged swap: the new content is written whole
    * beside the target (`.staged`), then the old content is renamed aside
    * (`.old`) and the staged directory renamed in — a crash leaves old
    * content, new content, or (inside the two-rename window) the `.old`
    * directory that `readSwapped` restores; never a half-written target. */
  def swap(spark: SparkSession, dir: String, rows: Rows): Unit = withConf(spark) {
    val fs = raw(this.fs(spark, dir))
    val target = new Path(dir)
    val staged = new Path(dir + ".staged")
    val old = new Path(dir + ".old")
    write(spark, staged.toString, rows)
    fs.delete(old, true)
    if (fs.exists(target))
      require(fs.rename(target, old), s"sidecar swap failed at $dir")
    if (!fs.rename(staged, target)) {
      // put the previous content back so readers never see an absent
      // sidecar because of a failed swap
      if (fs.exists(old)) fs.rename(old, target)
      throw new IllegalStateException(s"sidecar swap failed at $dir")
    }
    fs.delete(old, true)
  }

  /** Copy the directory `from` to `to` file by file, when it exists (a
    * sidecar's files never change once written, and a copy skips the
    * decode and re-encode of a read and a write). Files are read through
    * the path's file system — a legacy `.crc` is verified — and written
    * through the raw one, without `.crc` companions. */
  def copy(spark: SparkSession, from: String, to: String): Unit = withConf(spark) {
    val src = new Path(from)
    val srcFs = this.fs(spark, from)
    val dst = new Path(to)
    val dstFs = raw(this.fs(spark, to))
    def copyDir(s: Path, d: Path): Unit = {
      dstFs.mkdirs(d)
      srcFs.listStatus(s).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) copyDir(st.getPath, new Path(d, name))
        else if (!ChecksumFileSystem.isChecksumFile(st.getPath)) {
          val in = srcFs.open(st.getPath)
          try {
            val out = dstFs.create(new Path(d, name), false)
            try in.transferTo(out) finally out.close()
          } finally in.close()
        }
      }
    }
    if (srcFs.exists(src)) {
      dstFs.delete(dst, true) // an existing directory would receive the copy inside it
      copyDir(src, dst)
    }
  }

  /** Write the small file `path` holding `bytes` through the raw file
    * system — a lease, a commit marker — replacing it unless `overwrite`
    * is false, when an existing file fails the call. A `.crc` an older
    * writer left beside it is deleted, so checksummed reads never see a
    * stale one. */
  def writeFile(spark: SparkSession, path: String, bytes: Array[Byte],
      overwrite: Boolean = true): Unit = {
    val p = new Path(path)
    val checked = this.fs(spark, path)
    val fs = raw(checked)
    checked match {
      case c: ChecksumFileSystem => fs.delete(c.getChecksumFile(p), false)
      case _ => ()
    }
    val out = fs.create(p, overwrite)
    try out.write(bytes) finally out.close()
  }

  /** The bytes and modification time of the small file `path`; None when
    * it is missing. */
  def readFile(spark: SparkSession, path: String): Option[(Array[Byte], Long)] = {
    val p = new Path(path)
    val fs = this.fs(spark, path)
    status(fs, p).map { st =>
      val in = fs.open(p)
      try (in.readAllBytes(), st.getModificationTime) finally in.close()
    }
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

/** Hadoop's raw local file system, except that a file or directory it
  * creates gets the mode the process umask gives it: `RawLocalFileSystem`
  * sets the mode of each one itself, and without libhadoop that forks
  * `chmod` (~2.4 ms) per file and per directory. With the usual umask 022
  * the modes are the same 0644 and 0755. */
private[sources] final class NoChmodLocalFileSystem extends RawLocalFileSystem {
  override def mkdirs(f: Path): Boolean = {
    java.nio.file.Files.createDirectories(pathToFile(f).toPath)
    true
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    val file = pathToFile(f)
    if (file.exists() && (!overwrite || file.isDirectory))
      throw new FileAlreadyExistsException(s"File already exists: $f")
    Option(f.getParent).foreach(mkdirs)
    new FSDataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), bufferSize), statistics)
  }
}
