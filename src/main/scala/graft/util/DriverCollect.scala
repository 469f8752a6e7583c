package graft.util

import org.apache.spark.sql.{DataFrame, Row}

/** The bounded driver-collect discipline shared by every "small by
  * contract" query-side path (retrieval query terms, ANN probe lists):
  * collect through a `limit(cap + 1)` probe so an oversized frame
  * fails fast with the cap's name instead of OOMing the driver, and
  * re-emit the rows as a LocalRelation — true size stats for the
  * planner (broadcast at planning time) and no re-scan per reference. */
object DriverCollect {

  /** Collect `df` (at most `maxRows` rows) and re-emit it as a
    * LocalRelation. Returns the rows AND the frame — callers often
    * need both (e.g. a term vocabulary plus its join side). `what`
    * names the cap in the failure message so the caller knows which
    * documented constant/conf to raise. */
  def asLocalRelation(df: DataFrame, maxRows: Int,
      what: String): (Seq[Row], DataFrame) = {
    val rows = df.limit(maxRows + 1).collect().toSeq
    require(rows.length <= maxRows,
      s"$what exceeds $maxRows rows — this driver-collect path is for " +
        "small batches by contract; split the batch or raise the " +
        "documented cap")
    (rows, df.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      df.schema))
  }

  /** Session-conf override with a documented default — the pattern for
    * the scale-trade thresholds (local defaults keep the bench
    * comparable; a cluster deployment sets the conf). */
  def confInt(df: DataFrame, key: String, default: Int): Int =
    Settings.parsed(key, df.sparkSession.conf.get(key, default.toString))(
      _.toInt)
}
