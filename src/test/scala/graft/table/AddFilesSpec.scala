package graft.table

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec._

class AddFilesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshTable(name: String, schema: Schema,
      spec: PartitionSpec = PartitionSpec.unpartitioned): Table = {
    val dir = Files.createTempDirectory("graft-af-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name), schema, spec,
      io = new HadoopFileIO())
  }

  private def externalParquet(n: Int): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("graft-ext-").toString
    (0 until n).map(i => (i.toLong, s"user_$i"))
      .toDF("id", "name").coalesce(1).write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    (dir, parts)
  }

  private val schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "name", StringType, required = false)))

  test("imported files are referenced in place with harvested stats") {
    val (_, parts) = externalParquet(10)
    val t = TableOps.addFiles(freshTable("t1", schema), spark, parts)
    val tasks = Scan(t, spark).planFiles()
    assert(tasks.map(x => DataWriter.normalizePath(x.file.filePath)).toSet
      == parts.map(DataWriter.normalizePath).toSet) // no rewrite, no copy
    val f = tasks.head.file
    assert(f.recordCount == 10L)
    assert(f.lowerBounds.contains(1) && f.upperBounds.contains(1))
    assert(Scan(t, spark).toDF.count() == 10L)
    // harvested bounds must prune like native ones
    assert(Scan(t, spark).filter(Col("id").gt(100L)).planFiles().isEmpty)
  }

  test("re-adding a live file is rejected; explicit opt-out double-counts") {
    val (_, parts) = externalParquet(5)
    val t = TableOps.addFiles(freshTable("t2", schema), spark, parts)
    val ex = intercept[IllegalArgumentException] {
      TableOps.addFiles(t, spark, parts)
    }
    assert(ex.getMessage.contains("already referenced"))
    val t2 = TableOps.addFiles(t, spark, parts, checkDuplicates = false)
    assert(Scan(t2, spark).toDF.count() == 10L)
  }

  test("missing required column fails loud at import time") {
    val withExtra = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "name", StringType, required = false),
      NestedField(3, "score", DoubleType, required = true)))
    val (_, parts) = externalParquet(3)
    val ex = intercept[IllegalArgumentException] {
      TableOps.addFiles(freshTable("t3", withExtra), spark, parts)
    }
    assert(ex.getMessage.contains("score"))
  }

  test("stated identity partition values are cross-checked against " +
      "harvested bounds; stray keys rejected") {
    val spec = PartitionSpec.builder(0).identity(1, "id").build()
    val t0 = freshTable("t5", schema, spec)
    // constant-id file: legal only under the matching stated value
    val dir = Files.createTempDirectory("graft-ext-const-").toString
    Seq((7L, "a"), (7L, "b")).toDF("id", "name")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val wrong = intercept[IllegalArgumentException] {
      TableOps.addFiles(t0, spark, parts, partition = Map("id" -> 9L))
    }
    assert(wrong.getMessage.contains("lies outside"))
    val t = TableOps.addFiles(t0, spark, parts,
      partition = Map("id" -> 7L))
    assert(Scan(t, spark).toDF.count() == 2L)
    // non-constant column can never carry an identity value
    val (_, mixed) = externalParquet(5) // ids 0..4
    val t1 = freshTable("t6", schema, spec)
    val bad = intercept[IllegalArgumentException] {
      TableOps.addFiles(t1, spark, mixed, partition = Map("id" -> 2L))
    }
    assert(bad.getMessage.contains("not") &&
      bad.getMessage.contains("constant"))
    // keys outside the spec fail loud (typos would otherwise embed)
    val t2 = freshTable("t7", schema)
    val stray = intercept[IllegalArgumentException] {
      TableOps.addFiles(t2, spark, parts, partition = Map("typo" -> 1L))
    }
    assert(stray.getMessage.contains("typo"))
  }

  test("partitioned import needs explicit values; tuple recorded + pruned") {
    val spec = PartitionSpec.builder(0).identity(1, "id_part").build()
    val specked = Schema(0, Seq(
      NestedField(1, "bucket_key", LongType, required = false),
      NestedField(2, "name", StringType, required = false)))
    // identity partition on field 1 named id_part
    val t0 = freshTable("t4", specked, spec)
    val (_, parts) = externalParquet(4)
    val ex = intercept[IllegalArgumentException] {
      TableOps.addFiles(t0, spark, parts)
    }
    assert(ex.getMessage.contains("id_part"))
    val t = TableOps.addFiles(t0, spark, parts,
      partition = Map("id_part" -> 7L))
    val tasks = Scan(t, spark).planFiles()
    assert(tasks.forall(_.file.partition.get("id_part").contains(7L)))
  }

  test("imported float/double files record NaN counts: one job per " +
      "import, none without such columns; NaN-free files prune on Gt") {
    val dir = Files.createTempDirectory("graft-ext-nan-").toString
    Seq((1L, 1.0f, 1.0), (2L, 2.0f, 2.0)).toDF("id", "f", "d").coalesce(1)
      .write.parquet(s"$dir/clean")
    Seq((3L, Float.NaN, 3.0), (4L, 4.0f, Double.NaN), (5L, 5.0f, Double.NaN),
        (6L, Float.NaN, Double.NaN)).toDF("id", "f", "d").coalesce(1)
      .write.parquet(s"$dir/nans")
    def parts(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val nanSchema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "f", FloatType, required = false),
      NestedField(3, "d", DoubleType, required = false)))
    val (t, jobs) = graft.SparkJobs.count(spark)(TableOps.addFiles(
      freshTable("nan1", nanSchema), spark, parts("clean") ++ parts("nans")))
    assert(jobs == 1, s"one counting job per import, got $jobs")
    assert(Scan(t, spark).planFiles().map(_.file)
      .map(f => f.recordCount -> f.nanValueCounts).toSet ==
      Set(2L -> Map(2 -> 0L, 3 -> 0L), 4L -> Map(2 -> 2L, 3 -> 3L)))
    // above every bound: only the NaN-bearing file can still match
    val kept = Scan(t, spark).filter(Col("d").gt(100.0)).planFiles()
    assert(kept.map(_.file.recordCount) == Seq(4L))
    assert(Scan(t, spark).filter(Col("d").gt(100.0)).toDF.count() == 3)
    // no float/double column: nothing to count, no job
    val (_, parts0) = externalParquet(3)
    val (_, jobs0) = graft.SparkJobs.count(spark)(
      TableOps.addFiles(freshTable("nan2", schema), spark, parts0))
    assert(jobs0 == 0, s"no job without float/double columns, got $jobs0")
  }
}
