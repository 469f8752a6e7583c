package graft.table

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.column.statistics.{Statistics => PStats}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.TaskWrite
import graft.spec._

/** REAL per-file stats for written data files — fixing the reference's
  * approximations (`table/writer.go:144-167`: sizes guessed as
  * fileSize/numCols, bounds left empty). Rows are written on the
  * executors by [[graft.sources.TaskWrite]]'s writer, which counts NaNs
  * inline; the driver then harvests everything else from the parquet
  * footers of exactly the files written. Stats feed the pruner, so they
  * must round-trip through [[graft.spec.Bounds]] exactly.
  */
object DataWriter {

  /** Normalize to the URI form Spark's `_metadata.file_path` reports
    * ("file:/abs/path", no authority — verified empirically) so MoR
    * position deletes join exactly. Textual, NOT `java.net.URI`: URI
    * parsing rejects raw spaces (URISyntaxException), and Hive-style
    * partition dirs put spaces and other reserved chars in the path
    * ("__p_c=a b", timestamp values) — a filesystem path is not an
    * encoded URI. */
  def normalizePath(p: String): String = {
    val colon = p.indexOf(':')
    val scheme =
      if (colon <= 0) None
      else {
        val s = p.substring(0, colon)
        if (s.forall(c => c.isLetterOrDigit || c == '+' || c == '-' ||
            c == '.')) Some(s)
        else None
      }
    scheme match {
      case None => "file:" + p
      case Some("file") =>
        "file:/" + p.substring(5).dropWhile(_ == '/')
      case Some(_) => p
    }
  }

  /** The top-level float/double fields: the columns whose NaN counts
    * writes record. */
  private[graft] def floatFields(schema: Schema): Seq[NestedField] =
    schema.fields.filter(f =>
      f.fieldType == FloatType || f.fieldType == DoubleType)

  /** Read back the parquet footers of an EXPLICIT file list and build
    * stats-complete DataFile entries (SURVEY S7's "harvest real per-file
    * row counts & min/max from Parquet footers"), each with the NaN
    * counts given beside its path — a footer cannot hold them. Writes
    * harvest exactly the files named in their commit messages, so stray
    * files of failed or speculative task attempts are never committed. */
  def harvestFiles(conf: Configuration, files: Seq[(String, Map[Int, Long])],
      schema: Schema,
      partition: Map[String, Any] = Map.empty): Seq[DataFile] =
    files.sortBy(_._1).map { case (p, nanCounts) =>
      val hp = new Path(p)
      harvest(conf, hp.getFileSystem(conf).getFileStatus(hp), schema,
        partition, nanCounts)
    }

  private def harvest(conf: Configuration,
      st: org.apache.hadoop.fs.FileStatus, schema: Schema,
      partition: Map[String, Any],
      nanCounts: Map[Int, Long]): DataFile = {
    val footer = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getFooter finally r.close()
    }
    val blocks = footer.getBlocks.asScala.toSeq
    val rowCount = blocks.map(_.getRowCount).sum
    val splitOffsets = blocks.map(_.getStartingPos).sorted

    val columnSizes = collection.mutable.Map[Int, Long]()
    val valueCounts = collection.mutable.Map[Int, Long]()
    val nullCounts = collection.mutable.Map[Int, Long]()
    val mins = collection.mutable.Map[Int, Any]()
    val maxs = collection.mutable.Map[Int, Any]()

    for (block <- blocks; chunk <- block.getColumns.asScala) {
      val name = chunk.getPath.toDotString
      // dotted chunk paths resolve into struct leaves, so nested
      // primitive columns get stats too (ref keys stats by field ID
      // at any depth, spec/manifest.go:120-148)
      schema.fieldByPath(name).foreach { field =>
        val fid = field.id
        columnSizes(fid) =
          columnSizes.getOrElse(fid, 0L) + chunk.getTotalSize
        valueCounts(fid) =
          valueCounts.getOrElse(fid, 0L) + chunk.getValueCount
        val stats = chunk.getStatistics
        if (stats != null && !stats.isEmpty) {
          if (stats.isNumNullsSet)
            nullCounts(fid) = nullCounts.getOrElse(fid, 0L) + stats.getNumNulls
          if (stats.hasNonNullValue) {
            statsValue(stats, field.fieldType, isMin = true).foreach { v =>
              mins(fid) = mins.get(fid) match {
                case Some(cur) if Bounds.compare(cur, v, field.fieldType) <= 0 => cur
                case _ => v
              }
            }
            statsValue(stats, field.fieldType, isMin = false).foreach { v =>
              maxs(fid) = maxs.get(fid) match {
                case Some(cur) if Bounds.compare(cur, v, field.fieldType) >= 0 => cur
                case _ => v
              }
            }
          }
        }
      }
    }

    // String bounds truncate to 16 CODE POINTS (SURVEY §7 risk 3 —
    // the reference truncates nothing, which would embed whole
    // documents in every manifest entry): lower truncates to a
    // prefix (still a valid lower bound); upper truncates then
    // increments the last code point so it stays an upper bound;
    // un-incrementable -> no bound. Code-point arithmetic, never
    // char: a char-level truncate can split a surrogate pair and a
    // char-level increment can step INTO the surrogate range — an
    // unpaired surrogate UTF-8-serializes as '?', silently writing
    // an upper bound BELOW the file's real data (unsound pruning).
    // Incrementing U+D7FF skips the surrogate gap to U+E000.
    val MaxBound = 16
    def truncated(v: Any, isUpper: Boolean): Option[Any] = v match {
      case s: String if s.codePointCount(0, s.length) > MaxBound =>
        val prefix = s.substring(0, s.offsetByCodePoints(0, MaxBound))
        if (!isUpper) Some(prefix)
        else {
          val cps = prefix.codePoints.toArray
          val idx = cps.lastIndexWhere(_ != Character.MAX_CODE_POINT)
          if (idx < 0) None
          else {
            val next = if (cps(idx) == 0xD7FF) 0xE000 else cps(idx) + 1
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i < idx) { sb.appendCodePoint(cps(i)); i += 1 }
            sb.appendCodePoint(next)
            Some(sb.toString)
          }
        }
      case other => Some(other)
    }
    def boundsOf(m: collection.Map[Int, Any],
        isUpper: Boolean): Map[Int, Array[Byte]] =
      m.flatMap { case (fid, v) =>
        for {
          f <- schema.field(fid)
          tv <- truncated(v, isUpper)
        } yield fid -> Bounds.serialize(tv, f.fieldType)
      }.toMap

    DataFile(
      filePath = normalizePath(st.getPath.toString),
      recordCount = rowCount,
      fileSizeInBytes = st.getLen,
      partition = partition,
      columnSizes = columnSizes.toMap,
      valueCounts = valueCounts.toMap,
      nullValueCounts = nullCounts.toMap,
      nanValueCounts = nanCounts,
      lowerBounds = boundsOf(mins, isUpper = false),
      upperBounds = boundsOf(maxs, isUpper = true),
      splitOffsets = splitOffsets,
      sortOrderId = Some(0))
  }

  /** Parquet chunk statistics → Iceberg-typed scalar. */
  private def statsValue(stats: PStats[_], t: IcebergType,
      isMin: Boolean): Option[Any] = {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.io.api.Binary
    def raw: Any = stats match {
      case s: IntStatistics => if (isMin) s.getMin else s.getMax
      case s: LongStatistics => if (isMin) s.getMin else s.getMax
      case s: FloatStatistics => if (isMin) s.getMin else s.getMax
      case s: DoubleStatistics => if (isMin) s.getMin else s.getMax
      case s: BooleanStatistics => if (isMin) s.getMin else s.getMax
      case s: BinaryStatistics =>
        val b: Binary = if (isMin) s.genericGetMin else s.genericGetMax
        b
      case _ => null
    }
    (t, raw) match {
      case (_, null) => None
      case (IntType | DateType, i: Int) => Some(i)
      case (LongType | TimeType | TimestampType | TimestampTzType, l: Long) =>
        Some(l)
      case (IntType, l: Long) => Some(l.toInt)
      case (LongType, i: Int) => Some(i.toLong)
      // NaN poisons float/double min/max in some parquet writers
      // (PARQUET-1225); a NaN bound is meaningless for pruning — drop it
      case (FloatType, f: Float) => if (f.isNaN) None else Some(f)
      case (DoubleType, d: Double) => if (d.isNaN) None else Some(d)
      case (BooleanType, b: Boolean) => Some(b)
      case (StringType, b: org.apache.parquet.io.api.Binary) =>
        Some(b.toStringUsingUTF8)
      case (BinaryType | UUIDType | _: FixedType,
          b: org.apache.parquet.io.api.Binary) => Some(b.getBytes)
      case (DecimalType(_, s), b: org.apache.parquet.io.api.Binary) =>
        Some(new java.math.BigDecimal(
          new java.math.BigInteger(b.getBytes), s))
      case (DecimalType(_, s), i: Int) =>
        Some(java.math.BigDecimal.valueOf(i.toLong, s))
      case (DecimalType(_, s), l: Long) =>
        Some(java.math.BigDecimal.valueOf(l, s))
      case _ => None
    }
  }
}

/** Hive-style partition directories: each `name=value` segment decoded
  * to the partition type's RESULT types (strip the writer's `__p_`
  * prefix). */
private[graft] object PartitionDirs {
  private val partPrefix = "__p_"

  /** Decode one RELATIVE `name=value/...` segment path (the executor
    * writer names files this way so the commit can recover each file's
    * partition tuple). */
  def decodeSegments(relDir: String,
      partitionType: StructType): Map[String, Any] =
    relDir.split('/').filter(s => s.nonEmpty && s.contains('=')).map { seg =>
      val idx = seg.indexOf('=')
      val colName = seg.substring(0, idx).stripPrefix(partPrefix)
      val raw = unescapePathName(seg.substring(idx + 1))
      val typed: Any =
        if (raw == "__HIVE_DEFAULT_PARTITION__") null
        else partitionType.fieldByName(colName).map(f =>
          parseValue(raw, f.fieldType)).getOrElse(raw)
      colName -> typed
    }.toMap

  /** The writer renders dates and timestamps as their days/micros
    * integers, as manifests store them. */
  def parseValue(raw: String, t: IcebergType): Any = t match {
    case IntType | DateType => raw.toInt
    case LongType | TimeType | TimestampType | TimestampTzType => raw.toLong
    case FloatType => raw.toFloat
    case DoubleType => raw.toDouble
    case BooleanType => raw.toBoolean
    case DecimalType(_, s) => new java.math.BigDecimal(raw).setScale(s)
    case _ => raw
  }

  /** Hive/Spark partition-dir unescape: ONLY `%XX` hex sequences
    * decode (Spark's `ExternalCatalogUtils.unescapePathName`
    * semantics). `java.net.URLDecoder` is the WRONG tool here — it
    * also turns a literal `+` into a space, silently corrupting any
    * string partition value containing `+` (Hive escaping never
    * encodes a space as `+`; it writes spaces raw). */
  private[table] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code =
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** Convenience write ops on a table (fluent facades in M7 widen this).
  * Every data write goes through [[graft.sources.TaskWrite]], so each
  * committed file records its stats and NaN counts; [[addFiles]] is the
  * one path that registers files it did not write. */
object TableOps {
  /** Append honoring the table's partition spec and sort order
    * (`table/insert.go:49-170`). `props`, when given, are set in the
    * SAME commit as the data — the atomic data+bookkeeping shape the
    * streaming sinks' batch watermark needs. `summary` entries land in
    * the SNAPSHOT's summary (not table properties): per-commit facts a
    * reader may need to find this specific commit again later (the
    * streaming sinks stamp the micro-batch id there so a crash-restart
    * heal can resolve which sink snapshot carried a given batch). */
  def append(table: Table, df: DataFrame,
      props: Map[String, String] = Map.empty,
      summary: Map[String, String] = Map.empty): Table = {
    val files = TaskWrite(df.sparkSession, table, df)
    table.commitSnapshot(PendingSnapshot(Operation.Append,
      addedDataFiles = files, summaryExtra = summary),
      extraProps = props)
  }

  /** [[append]] with properties recomputed from refreshed metadata on
    * every conflict-retry attempt ([[Table.commitSnapshotComputed]]) —
    * the shape for read-modify-write stamp arithmetic (the streaming
    * sinks' additive corpus stats), which a stale precomputed map
    * would silently corrupt under concurrent writers. */
  def appendComputed(table: Table, df: DataFrame,
      propsFn: TableMetadata => Map[String, String]): Table = {
    val files = TaskWrite(df.sparkSession, table, df)
    table.commitSnapshotComputed(PendingSnapshot(Operation.Append,
      addedDataFiles = files), extraPropsFn = propsFn)
  }

  /** Property-only stamp with the map recomputed from refreshed
    * metadata on every conflict-retry attempt — the metadata-only twin
    * of [[appendComputed]]. Deliberately implemented as an EMPTY
    * append snapshot through [[Table.commitSnapshotComputed]] rather
    * than a bare property transaction: the snapshot commit's branch-ref
    * assertion serializes it against EVERY concurrent commit —
    * including other property-only stamps, which
    * [[Transaction.commit]]'s requirement (a ref check that a pure
    * property commit never trips) cannot see, so a bare transaction
    * could re-apply stale read-modify-write arithmetic and silently
    * lose a concurrent writer's increment even with zero local delta.
    * Cost: one data-less snapshot in the history per stamp (no data
    * manifests are rewritten; expiry reclaims them like any other). */
  def stampComputed(table: Table,
      propsFn: TableMetadata => Map[String, String]): Table =
    table.commitSnapshotComputed(PendingSnapshot(Operation.Append),
      extraPropsFn = propsFn)

  /** Register EXISTING parquet files as table data — Iceberg's
    * `add_files` import (the migration path the reference's catalog
    * layer implies but never ships: its writer always copies rows,
    * `table/writer.go:57-59`). The files are NOT rewritten or moved;
    * one footer read per file harvests the same stats-complete
    * [[graft.spec.DataFile]] entries a native write produces (stats
    * resolve by column name, so files written by any engine prune
    * identically to native ones), and one Append snapshot commits them.
    *
    * Files land in the table's CURRENT default partition spec: for a
    * partitioned table the caller states the partition values shared
    * by every file in this call (add each partition's files in its own
    * call, exactly like Iceberg's `partition_filter`); an empty map is
    * only legal on an unpartitioned spec. `checkDuplicates` rejects
    * paths the current snapshot already references — re-adding a live
    * file would double-count its rows (Iceberg's
    * `check_duplicate_files`). Footer reads are driver-side and
    * bounded by the file count of ONE import call, the same planning
    * budget `append` itself spends; NaN counts, which footers lack,
    * cost one Spark job per call when the schema has a float/double
    * column. */
  def addFiles(table: Table, spark: SparkSession, paths: Seq[String],
      partition: Map[String, Any] = Map.empty,
      checkDuplicates: Boolean = true): Table =
    addFilesDetailed(table, spark, paths, partition, checkDuplicates)._1

  /** [[addFiles]] returning the committed [[graft.spec.DataFile]]
    * entries alongside the updated table, so callers (the `add_files`
    * procedure) can report added-file/added-record counts from what
    * was actually committed rather than from input-path arity. */
  def addFilesDetailed(table: Table, spark: SparkSession,
      paths: Seq[String], partition: Map[String, Any] = Map.empty,
      checkDuplicates: Boolean = true): (Table, Seq[DataFile]) = {
    require(paths.nonEmpty, "addFiles: empty path list")
    val meta = table.metadata
    val spec = meta.defaultPartitionSpec
    val specNames = spec.fields.map(_.name)
    val missing = specNames.filterNot(partition.contains)
    require(missing.isEmpty,
      s"addFiles: partition values required for spec fields " +
        s"${missing.mkString(", ")} (one call per partition)")
    val stray = partition.keys.filterNot(specNames.contains)
    require(stray.isEmpty,
      s"addFiles: ${stray.mkString(", ")} not in the default partition " +
        s"spec (fields: ${specNames.mkString(", ")})")
    val schema = meta.currentSchema
    val files = DataWriter.harvestFiles(spark.sessionState.newHadoopConf(),
      paths.map(_ -> Map.empty[Int, Long]), schema, partition)
    // the caller STATES the partition tuple — cross-check it against
    // the harvested column bounds wherever the transform lets us
    // (identity: every row must equal the stated value, so min = max =
    // value). A wrong tuple would silently mis-prune forever; bounds
    // are already in hand, so fail loud at import instead.
    for {
      pf <- spec.fields if pf.transform == Transform.Identity
      f <- schema.field(pf.sourceId)
      stated = partition(pf.name)
      df <- files
      loB <- df.lowerBounds.get(pf.sourceId)
      hiB <- df.upperBounds.get(pf.sourceId)
    } {
      val lo = Bounds.deserialize(loB, f.fieldType)
      val hi = Bounds.deserialize(hiB, f.fieldType)
      // the stated value must sit inside the file's bounds (sound even
      // under the 16-char string-bound truncation, which only WIDENS)
      require(Bounds.compare(stated, lo, f.fieldType) >= 0 &&
          Bounds.compare(stated, hi, f.fieldType) <= 0,
        s"addFiles: ${df.filePath} has ${f.name} in [$lo, $hi] but the " +
          s"stated identity partition ${pf.name} = $stated lies outside")
      // non-string bounds are exact: lo != hi proves the column is not
      // constant, which an identity partition requires. (String bounds
      // may differ only because of truncation, so strings get just the
      // range check above.)
      require(f.fieldType == StringType ||
          Bounds.compare(lo, hi, f.fieldType) == 0,
        s"addFiles: ${df.filePath} has ${f.name} in [$lo, $hi] — not " +
          s"constant, so it cannot carry identity partition " +
          s"${pf.name} = $stated")
    }
    // schema fit: a required top-level primitive column absent from a
    // file would read back null — fail loud at import time instead
    val requiredIds = schema.fields
      .filter(f => f.required && f.fieldType.isInstanceOf[PrimitiveType])
      .map(f => f.id -> f.name)
    files.foreach { f =>
      val absent = requiredIds.collect {
        case (id, name) if !f.valueCounts.contains(id) => name
      }
      require(absent.isEmpty, s"addFiles: ${f.filePath} lacks required " +
        s"column(s) ${absent.mkString(", ")}")
    }
    if (checkDuplicates) {
      val live = Scan(table, spark).planFiles()
        .map(t => DataWriter.normalizePath(t.file.filePath)).toSet
      val dup = files.map(f => DataWriter.normalizePath(f.filePath))
        .filter(live.contains)
      require(dup.isEmpty,
        s"addFiles: already referenced by the current snapshot: " +
          s"${dup.mkString(", ")}")
    }
    val counted = withNanCounts(spark, files, schema)
    (table.commitSnapshot(PendingSnapshot(Operation.Append,
      addedDataFiles = counted)), counted)
  }

  /** Imported files with their float/double NaN counts, which no footer
    * holds and no writer of ours counted: one Spark job reads just those
    * columns (by name, as the footer stats resolve), one task per file.
    * No job when the schema has no float/double field. Without the
    * counts a `Gt`/`Gte` bound could never prune an imported file. */
  private def withNanCounts(spark: SparkSession, files: Seq[DataFile],
      schema: Schema): Seq[DataFile] = {
    val fp = DataWriter.floatFields(schema)
    if (fp.isEmpty) return files
    val cols = org.apache.spark.sql.types.StructType(fp.map(f =>
      org.apache.spark.sql.types.StructField(f.name,
        SchemaConverters.toSparkType(f.fieldType))))
    val isFloat = fp.map(_.fieldType == FloatType).toArray
    val ids = fp.map(_.id).toArray
    val read = org.apache.spark.sql.graftshim.ParquetShim
      .buildReaderFunc(spark, cols, cols)
    val counts = spark.sparkContext
      .parallelize(files.map(f => (f.filePath, f.fileSizeInBytes)),
        math.min(files.size, spark.sparkContext.defaultParallelism))
      .map { case (path, len) =>
        val n = new Array[Long](ids.length)
        read(org.apache.spark.sql.graftshim.ParquetShim
            .partitionedFile(path, len)).foreach { row =>
          var i = 0
          while (i < n.length) {
            if (!row.isNullAt(i) && (if (isFloat(i)) row.getFloat(i).isNaN
                else row.getDouble(i).isNaN)) n(i) += 1
            i += 1
          }
        }
        path -> ids.zip(n).toMap
      }.collect().toMap
    files.map(f => f.copy(nanValueCounts = counts(f.filePath)))
  }
}
