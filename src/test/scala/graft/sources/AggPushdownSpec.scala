package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Metadata-answered aggregates: global COUNT/MIN/MAX over a
  * delete-free table come from manifest statistics — the plan carries a
  * one-row `graft-agg` scan and opens no data file. Every exactness
  * guard (deletes, NaN, truncated string bounds, GROUP BY, WHERE) must
  * fall back to the ordinary scan and still produce correct rows. */
class AggPushdownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withCatalog(tag: String)(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-agg-$tag-").toString
    val name = s"gagg$tag"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir)
    f(name)
  }

  private def pushed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("graft-agg")

  test("COUNT(*) / COUNT(col) / MIN / MAX answered from manifests") {
    withCatalog("basic") { c =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE, s STRING)")
      spark.sql(s"INSERT INTO $c.db.t SELECT id, id * 1.5, " +
        "concat('k', id % 7) FROM range(10000)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (10000, NULL, NULL)")

      val cnt = spark.sql(s"SELECT count(*) FROM $c.db.t")
      assert(pushed(cnt), cnt.queryExecution.executedPlan.toString)
      assert(cnt.collect()(0).getLong(0) == 10001L)

      val cntCol = spark.sql(s"SELECT count(v) FROM $c.db.t")
      assert(pushed(cntCol))
      assert(cntCol.collect()(0).getLong(0) == 10000L)

      val mm = spark.sql(
        s"SELECT min(id), max(id), min(v), max(v), min(s), max(s) " +
          s"FROM $c.db.t")
      assert(pushed(mm), mm.queryExecution.executedPlan.toString)
      val r = mm.collect()(0)
      assert(r.getLong(0) == 0L && r.getLong(1) == 10000L)
      assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 9999 * 1.5)
      assert(r.getString(4) == "k0" && r.getString(5) == "k6")
    }
  }

  test("guards: WHERE, GROUP BY, deletes, NaN, long strings fall back") {
    withCatalog("guard") { c =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE, s STRING)")
      spark.sql(s"INSERT INTO $c.db.t SELECT id, CAST(id AS DOUBLE), " +
        "'x' FROM range(100)")

      val where = spark.sql(s"SELECT count(*) FROM $c.db.t WHERE id < 10")
      assert(!pushed(where))
      assert(where.collect()(0).getLong(0) == 10L)

      val grouped = spark.sql(s"SELECT s, count(*) FROM $c.db.t GROUP BY s")
      assert(!pushed(grouped))
      assert(grouped.collect()(0).getLong(1) == 100L)

      // NaN poisons double MIN/MAX (NaN sorts highest in Spark but is
      // excluded from parquet bounds)
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        "(200, CAST('NaN' AS DOUBLE), 'y')")
      val mmNan = spark.sql(s"SELECT max(v) FROM $c.db.t")
      assert(!pushed(mmNan), mmNan.queryExecution.executedPlan.toString)
      assert(mmNan.collect()(0).getDouble(0).isNaN)
      // but long MIN/MAX on the same table still pushes
      val mmId = spark.sql(s"SELECT max(id) FROM $c.db.t")
      assert(pushed(mmId))
      assert(mmId.collect()(0).getLong(0) == 200L)

      // string bounds at/over the 16-char truncation horizon: refuse
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        "(300, 1.0, 'abcdefghijklmnopqrstuvwxyz')")
      val mmS = spark.sql(s"SELECT max(s) FROM $c.db.t")
      assert(!pushed(mmS))
      assert(mmS.collect()(0).getString(0) == "y")

      // MoR deletes make counts unsafe
      spark.sql(s"CREATE TABLE $c.db.m (id BIGINT, v DOUBLE)")
      spark.sql(s"INSERT INTO $c.db.m SELECT id, 1.0 FROM range(50)")
      import graft.catalog.{LocalCatalog, TableIdentifier}
      // (row-level SQL DELETE is CoW here; craft MoR via the engine API)
      val warehouse = spark.conf
        .get(s"spark.sql.catalog.$c.warehouse")
      val t = graft.table.Table.load(new LocalCatalog(warehouse),
        TableIdentifier(Seq("db"), "m"), new graft.io.HadoopFileIO())
      graft.table.Mutations.deleteMoR(t, spark,
        graft.table.Col("id") lt 5L)
      val cntM = spark.sql(s"SELECT count(*) FROM $c.db.m")
      assert(!pushed(cntM), cntM.queryExecution.executedPlan.toString)
      assert(cntM.collect()(0).getLong(0) == 45L)
    }
  }

  test("bare COUNT(*) is answered from the manifest list; MoR deletes " +
      "fall back") {
    withCatalog("list") { c =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE)")
      spark.sql(s"INSERT INTO $c.db.t SELECT id, 1.0 FROM range(40)")
      spark.sql(s"INSERT INTO $c.db.t SELECT id, 2.0 FROM range(40, 60)")
      spark.sql(s"DELETE FROM $c.db.t WHERE id < 5")
      def explained(q: String): String =
        spark.sql(s"EXPLAIN $q").collect()(0).getString(0)
      val q = s"SELECT count(*) FROM $c.db.t"
      assert(explained(q).contains("graft-agg"), explained(q))
      assert(spark.sql(q).collect()(0).getLong(0) == 55L)
      // mixed with a bounds aggregate: still pushed, through file stats
      val mixed = spark.sql(s"SELECT count(*), max(id) FROM $c.db.t")
      assert(pushed(mixed), mixed.queryExecution.executedPlan.toString)
      val r = mixed.collect()(0)
      assert(r.getLong(0) == 55L && r.getLong(1) == 59L)

      import graft.catalog.{LocalCatalog, TableIdentifier}
      val warehouse = spark.conf.get(s"spark.sql.catalog.$c.warehouse")
      val t = graft.table.Table.load(new LocalCatalog(warehouse),
        TableIdentifier(Seq("db"), "t"), new graft.io.HadoopFileIO())
      graft.table.Mutations.deleteMoR(t, spark,
        graft.table.Col("id") gte 50L)
      assert(!explained(q).contains("graft-agg"), explained(q))
      assert(spark.sql(q).collect()(0).getLong(0) == 45L)
    }
  }

  test("all-null and empty tables") {
    withCatalog("nul") { c =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.e (id BIGINT, v DOUBLE)")
      val empty = spark.sql(
        s"SELECT count(*), min(id), max(v) FROM $c.db.e")
      val r0 = empty.collect()(0)
      assert(r0.getLong(0) == 0L && r0.isNullAt(1) && r0.isNullAt(2))

      spark.sql(s"INSERT INTO $c.db.e VALUES (NULL, NULL), (NULL, NULL)")
      val an = spark.sql(s"SELECT count(*), count(id), min(id) FROM $c.db.e")
      assert(pushed(an), an.queryExecution.executedPlan.toString)
      val r = an.collect()(0)
      assert(r.getLong(0) == 2L && r.getLong(1) == 0L && r.isNullAt(2))
    }
  }

  test("time travel pins the aggregated snapshot") {
    withCatalog("tt") { c =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT)")
      spark.sql(s"INSERT INTO $c.db.t SELECT id FROM range(10)")
      import graft.catalog.{LocalCatalog, TableIdentifier}
      val warehouse = spark.conf.get(s"spark.sql.catalog.$c.warehouse")
      val t = graft.table.Table.load(new LocalCatalog(warehouse),
        TableIdentifier(Seq("db"), "t"), new graft.io.HadoopFileIO())
      val snap1 = t.metadata.currentSnapshot.get.snapshotId
      spark.sql(s"INSERT INTO $c.db.t SELECT id FROM range(10, 30)")

      val now = spark.sql(s"SELECT count(*) FROM $c.db.t")
      assert(pushed(now) && now.collect()(0).getLong(0) == 30L)
      val old = spark.sql(
        s"SELECT count(*) FROM $c.db.t VERSION AS OF $snap1")
      assert(pushed(old), old.queryExecution.executedPlan.toString)
      assert(old.collect()(0).getLong(0) == 10L)
    }
  }
}
