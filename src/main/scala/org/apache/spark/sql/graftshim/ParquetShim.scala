package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Re-exports of the `private[sql]` parquet reading machinery for the
  * DSv2 source (`graft.sources`). The returned function is EXACTLY what
  * `FileSourceScanExec` ships to executors — Spark's own vectorized
  * parquet decode path, serialized into our `PartitionReaderFactory` —
  * so the streaming source reads with the same code the batch planner
  * uses, not a hand-rolled parquet loop.
  */
object ParquetShim {

  /** Build the serializable per-file read function on the driver.
    * `OPTION_RETURNING_BATCH = false` makes it yield [[InternalRow]]s
    * (vectorized decode still applies underneath; batches are unwrapped
    * row-wise), which is what a row-based DSv2 `PartitionReader`
    * contract requires.
    *
    * `filters` reach the parquet reader's row-group/page/dictionary
    * skipping (ParquetFilters) — pass the query's pushed filters ONLY
    * when dropping non-matching rows is sound for the caller (Catalyst
    * re-applies every filter as a residual above the scan, so plain
    * reads qualify; position-delete application and copy-on-write
    * rewrites do NOT — the former counts file row positions, the latter
    * must keep non-matching rows). */
  def buildReaderFunc(
      spark: SparkSession,
      dataSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : PartitionedFile => Iterator[InternalRow] = {
    val fmt = new ParquetFileFormat
    val conf: Configuration =
      spark.sessionState.newHadoopConfWithOptions(Map.empty)
    fmt.buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = new StructType(),
      requiredSchema = requiredSchema,
      filters = filters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = conf)
  }

  /** Whether the vectorized reader can return [[ColumnarBatch]]es for
    * this result schema (atomic types, vectorization enabled — the same
    * gate `FileSourceScanExec` uses). */
  def supportsBatch(spark: SparkSession, schema: StructType): Boolean =
    new ParquetFileFormat().supportBatch(spark, schema)

  /** Columnar variant: yields [[ColumnarBatch]]es straight from the
    * vectorized parquet reader — the zero-copy handoff whole-stage
    * codegen consumes. Caller must have checked [[supportsBatch]]. The
    * `FileFormat` contract types the iterator as `InternalRow` but
    * feeds `ColumnarBatch` objects through it when
    * `OPTION_RETURNING_BATCH = true` — the same cast Spark's own
    * `FileScanRDD`/DSv2 glue performs. */
  def buildBatchReaderFunc(
      spark: SparkSession,
      dataSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : PartitionedFile =>
        Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val fmt = new ParquetFileFormat
    val conf: Configuration =
      spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val f = fmt.buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = new StructType(),
      requiredSchema = requiredSchema,
      filters = filters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "true"),
      hadoopConf = conf)
    pf => f(pf).asInstanceOf[
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]]
  }

  def partitionedFile(path: String, length: Long): PartitionedFile =
    PartitionedFile(
      partitionValues = InternalRow.empty,
      filePath = SparkPath.fromPathString(path),
      start = 0L,
      length = length,
      locations = Array.empty,
      modificationTime = 0L,
      fileSize = length)

  // ----------------------------------------------------------- writing

  /** Driver-side: build the serializable parquet [[OutputWriterFactory]]
    * Spark's own FileFormatWriter would use, plus the job configuration
    * executors need to instantiate writers. Timestamps are forced to
    * TIMESTAMP_MICROS (Iceberg physical semantics; INT96 has no usable
    * min/max for pruning) in this job's configuration only, so other
    * writers in the session keep their setting. */
  def buildWriterFactory(spark: SparkSession, dataSchema: StructType)
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.spark.util.SerializableConfiguration) = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val fmt = new ParquetFileFormat
    val factory = fmt.prepareWrite(spark, job,
      Map("compression" -> "snappy"), dataSchema)
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    (factory,
      new org.apache.spark.util.SerializableConfiguration(
        job.getConfiguration))
  }

  /** Executor-side: open one parquet [[OutputWriter]] at `path`. The
    * writer gets its own copy of `conf`, in which `file:` paths resolve
    * to a new [[graft.io.GraftLocalFileSystem]] built from that copy:
    * Hadoop's bytes, `.crc` sidecar and modes (from the job's
    * `fs.permissions.umask-mode`), with each mode set by a syscall
    * rather than a forked `chmod`. */
  def newOutputWriter(
      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      conf: Configuration, path: String, dataSchema: StructType,
      taskId: Int, attempt: Int)
      : org.apache.spark.sql.execution.datasources.OutputWriter = {
    import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskID, JobID, TaskType}
    val fileConf = new Configuration(conf)
    graft.io.GraftLocalFileSystem.install(fileConf)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      fileConf,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP,
        taskId), attempt))
    factory.newInstance(path, dataSchema, ctx)
  }
}
