package graft.queries

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType => SDec, DoubleType => SDbl}

import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec.SchemaConverters
import graft.table._

/** Mutation operators routed end-to-end through the engine, each with a
  * SQL-expressible oracle over the ORIGINAL parquet: the final table
  * state after delete/update/upsert/overwrite is a pure function of the
  * input, so DuckDB recomputes it directly.
  */
object MutationQueries {

  private lazy val warehouse =
    Files.createTempDirectory("graft-mut-wh-").toString
  private val cache = TrieMap[String, Table]()
  private val io = new HadoopFileIO()

  private def build(key: String, sfDir: String, src: String,
      spark: SparkSession)(mutate: (Table, DataFrame) => Table): Table =
    cache.getOrElseUpdate(s"$key:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/$src.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq(key + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val t = Table.create(cat, TableIdentifier(ns, src),
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      mutate(TableOps.append(t, df), df)
    })

  // ------------------------------------------------- m1: CoW delete
  def m1DeleteCow(s: SparkSession, dir: String): DataFrame = {
    val t = build("m1", dir, "lineitem", s) { (t, _) =>
      t.newDelete(s).where(Col("l_quantity").gt(45.0)).execute()
    }
    Scan(t, s).toDF
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(SDec(18, 2))).cast(SDbl).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val m1Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |-- survivors of DELETE WHERE l_quantity > 45: a NULL-quantity row
      |-- is NOT matched and SURVIVES (SQL DELETE semantics); a bare
      |-- NOT(pred) would drop it under 3VL
      |FROM lineitem WHERE NOT coalesce(l_quantity > 45, false)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------- m2: MoR delete
  /** The m2 table, shared with the registered-view MoR gate (sql4). */
  private[queries] def m2Table(s: SparkSession, dir: String): Table =
    build("m2", dir, "lineitem", s) { (t, _) =>
      t.newDelete(s).where(Col("l_returnflag").eqTo("R"))
        .withMergeOnRead(true).execute()
    }

  /** (warehouse, namespace, table) of the built m2 table — for the
    * CatalogPlugin MoR gate (sql5), which addresses it by SQL name. */
  private[queries] def m2Coords(s: SparkSession,
      dir: String): (String, String, String) = {
    val t = m2Table(s, dir)
    (warehouse, t.id.namespace.mkString("."), t.id.name)
  }

  def m2DeleteMor(s: SparkSession, dir: String): DataFrame = {
    val t = m2Table(s, dir)
    Scan(t, s).toDF
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val m2Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      |-- IS DISTINCT FROM: a NULL-flag row survives the flag='R' delete
      |FROM lineitem WHERE l_returnflag IS DISTINCT FROM 'R'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------- m3: CoW update
  def m3Update(s: SparkSession, dir: String): DataFrame = {
    val t = build("m3", dir, "orders", s) { (t, _) =>
      t.newUpdate(s).where(Col("o_totalprice").gt(300000.0))
        .set("o_orderpriority", "1-URGENT-BIG").execute()
    }
    Scan(t, s).toDF
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(SDec(18, 2))).cast(SDbl).as("total"))
      .orderBy("o_orderpriority")
  }

  val m3Sql: String =
    """SELECT CASE WHEN o_totalprice > 300000.0 THEN '1-URGENT-BIG'
      |            ELSE o_orderpriority END AS o_orderpriority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- m4: upsert/MERGE
  def m4Upsert(s: SparkSession, dir: String): DataFrame = {
    val t = build("m4", dir, "customer", s) { (t, df) =>
      // matched: every 10th customer gets +1000 balance and NEWSEG;
      // unmatched: 5 brand-new keys above 1e6
      val updates = df.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
        .withColumn("c_mktsegment", lit("NEWSEG"))
      val inserts = df.filter(col("c_custkey") < 5)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
      t.newUpsert(s).withData(updates.unionByName(inserts))
        .withKeyColumns("c_custkey").execute()
    }
    Scan(t, s).toDF
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast(SDec(18, 2)).cast(SDbl).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  val m4Sql: String =
    """SELECT c_custkey,
      |  CASE WHEN c_custkey % 10 = 0 THEN 'NEWSEG' ELSE c_mktsegment END AS c_mktsegment,
      |  CAST(CAST(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0
      |            ELSE c_acctbal END AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + 1000000, c_mktsegment,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal
      |FROM customer WHERE c_custkey < 5
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------- m5: equality delete (MoR)
  def m5EqualityDelete(s: SparkSession, dir: String): DataFrame = {
    val t = build("m5", dir, "supplier", s) { (t, df) =>
      val keys = df.filter(col("s_suppkey") % 3 === 0).select("s_suppkey")
      Mutations.deleteByKeys(t, s, keys)
    }
    Scan(t, s).toDF
      .select("s_suppkey", "s_name", "s_nationkey")
      .orderBy("s_suppkey")
  }

  val m5Sql: String =
    """SELECT s_suppkey, s_name, s_nationkey FROM supplier
      |WHERE s_suppkey % 3 <> 0 ORDER BY s_suppkey""".stripMargin

  // ------------------------------------ m6: selective overwrite (T3)
  def m6OverwriteWhere(s: SparkSession, dir: String): DataFrame = {
    val t = build("m6", dir, "part", s) { (t, df) =>
      // replace all Brand#1 parts with re-branded copies at +100000 keys
      val replacement = df.filter(col("p_brand") === "Brand#1")
        .withColumn("p_partkey", col("p_partkey") + lit(100000L))
        .withColumn("p_brand", lit("Brand#R"))
      Mutations.overwriteWhere(t, s, Col("p_brand").eqTo("Brand#1"),
        replacement)
    }
    Scan(t, s).toDF
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
      .orderBy("p_brand")
  }

  val m6Sql: String =
    """SELECT CASE WHEN p_brand = 'Brand#1' THEN 'Brand#R' ELSE p_brand END
      |  AS p_brand, COUNT(*) AS n
      |FROM part GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------- m7: conflicting concurrent commits (rebase)
  /** Two CoW deletes + one append all planned against the SAME stale
    * table handle: the first delete rewrites the shared file, so the
    * second delete and the append must rebase (the delete re-plans via
    * CommitConflictException, the append rebases cleanly). The oracle
    * is both predicates applied plus the appended rows — any stale-
    * survivor recommit (lost update) breaks the hash. */
  def m7ConcurrentCommits(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"m7:$dir", {
      val df = s.read.parquet(s"$dir/nation.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("m7" + dir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val t0 = TableOps.append(Table.create(cat,
        TableIdentifier(ns, "nation"),
        SchemaConverters.fromSparkSchema(df.schema), io = io),
        df.coalesce(1))
      Mutations.deleteCoW(t0, s, Col("n_regionkey").eqTo(0L))
      // stale-handle commits: both must detect the moved branch and land
      Mutations.deleteCoW(t0, s, Col("n_regionkey").eqTo(4L))
      TableOps.append(t0,
        df.filter(col("n_regionkey") === 1)
          .withColumn("n_nationkey", (col("n_nationkey") + lit(1000))
            .cast(df.schema("n_nationkey").dataType))
          .coalesce(1))
      t0.refresh()
    })
    Scan(t, s).toDF
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  val m7Sql: String =
    """SELECT n_nationkey, n_name, n_regionkey FROM (
      |  SELECT n_nationkey, n_name, n_regionkey FROM nation
      |  -- NULL region keys survive the IN-list delete (NOT-coalesce)
      |  WHERE NOT coalesce(n_regionkey IN (0, 4), false)
      |  UNION ALL
      |  SELECT n_nationkey + 1000 AS n_nationkey, n_name, n_regionkey
      |  FROM nation WHERE n_regionkey = 1
      |) ORDER BY n_nationkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m7_concurrent_commits" -> (m7ConcurrentCommits _),
    "m1_delete_cow" -> (m1DeleteCow _),
    "m2_delete_mor" -> (m2DeleteMor _),
    "m3_update" -> (m3Update _),
    "m4_upsert" -> (m4Upsert _),
    "m5_equality_delete" -> (m5EqualityDelete _),
    "m6_overwrite_where" -> (m6OverwriteWhere _),
  )

  val oracles: Map[String, String] = Map(
    "m7_concurrent_commits" -> m7Sql,
    "m1_delete_cow" -> m1Sql,
    "m2_delete_mor" -> m2Sql,
    "m3_update" -> m3Sql,
    "m4_upsert" -> m4Sql,
    "m5_equality_delete" -> m5Sql,
    "m6_overwrite_where" -> m6Sql,
  )
}
