package perfbench

/** Turns one run's samples into the named metrics of the record. */
final class Report(b: Bench, trace: Boolean) {
  private val all = b.allSamples
  private val window = all.filter(_.inWindow)
  private val okWindow = window.filter(_.ok)
  private val traced = okWindow.filter(_.traced)
  /** Plain samples: the untraced cycles of a traced run, or all of an
    * untraced run. */
  private val plain = okWindow.filterNot(_.traced)

  private def ms(xs: Seq[Sample]) = xs.map(_.ms)
  private def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
  private def kindP50(xs: Seq[Sample], kinds: String*) =
    median(ms(xs.filter(s => kinds.contains(s.kind))))
  private def opSum(xs: Seq[Sample]): Double =
    xs.groupBy(_.kind).values.map(k => Stats.median(ms(k))).sum

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", Stats.median(b.setupSeconds), "s"),
    ("ops_per_s", okWindow.size / b.windowSeconds, "1/s"),
    ("op_sum_p50_s", opSum(okWindow) / 1000, "s"),
    ("heap_peak_mb", b.firstCycleHeapBytes / Report.MiB, "MB"))

  private def layer(k: String)(s: Sample) = s.layer.getOrElse(k, 0L).toDouble
  private def extra(k: String)(s: Sample) = s.extras.getOrElse(k, 0.0)
  private def perOp(f: Sample => Double, xs: Seq[Sample] = traced) =
    mean(xs.map(f))
  private def total(f: Sample => Double, xs: Seq[Sample] = traced) =
    xs.map(f).sum

  private val plans = traced.filter(_.extras.contains("plan.calls"))
  private val mutations = traced.filter(_.extras.contains("mutate.calls"))

  def perLayer: Seq[(String, Double, String)] = {
    val gap = (s: Sample) => math.max(0.0, s.ms - s.spark.jobUnionMs)
    val kinds = okWindow.map(_.kind).distinct
    val overhead = {
      val both = kinds.filter(k =>
        traced.exists(_.kind == k) && plain.exists(_.kind == k))
      val t = both.map(k => kindP50(traced, k)).sum
      val p = both.map(k => kindP50(plain, k)).sum
      if (p == 0) 0.0 else 100 * (t / p - 1)
    }
    Seq(
      ("failed_op_ratio", ratio(all.count(!_.ok), all.size), "ratio"),
      ("latency_p50_ms", median(ms(plain)), "ms"),
      ("latency_p90_ms",
        if (plain.isEmpty) 0.0 else Stats.percentile(ms(plain), 90), "ms"),
      ("latency.samples", okWindow.size.toDouble, "count"),
      ("latency.tail_samples",
        if (okWindow.isEmpty) 0.0
        else Stats.samplesAbove(ms(okWindow), 90).toDouble, "count"),
      ("trace.overhead_pct", overhead, "%"),
      ("plan_p50_ms", kindP50(plain, "plan_part", "plan_stats"), "ms"),
      ("plan_stats_p50_ms", kindP50(plain, "plan_stats"), "ms"),
      ("commit_p50_ms", kindP50(plain, "commit"), "ms"),
      ("cow_delete_p50_ms", kindP50(plain, "cow_delete"), "ms"),
      ("catalog.load_calls", perOp(layer("catalog.load_calls")), "count/op"),
      ("catalog.load_ms", perOp(layer("catalog.load_nanos")) / 1e6, "ms/op"),
      ("catalog.commit_calls", perOp(layer("catalog.commit_calls")), "count/op"),
      ("catalog.commit_ms", perOp(layer("catalog.commit_nanos")) / 1e6, "ms/op"),
      ("catalog.commit_conflicts",
        perOp(layer("catalog.commit_conflicts")), "count/op"),
      ("catalog.metadata_json_bytes", ratio(
        total(layer("catalog.metadata_json_bytes")),
        total(layer("catalog.commit_calls"))), "B/commit"),
      ("io.read_calls", perOp(layer("io.read_calls")), "count/op"),
      ("io.read_bytes", perOp(layer("io.read_bytes")), "B/op"),
      ("io.read_ms", perOp(layer("io.read_nanos")) / 1e6, "ms/op"),
      ("io.write_calls", perOp(layer("io.write_calls")), "count/op"),
      ("io.write_bytes", perOp(layer("io.write_bytes")), "B/op"),
      ("io.write_ms", perOp(layer("io.write_nanos")) / 1e6, "ms/op"),
      ("io.unseen_manifest_reads",
        perOp(extra("io.unseen_manifest_reads")), "count/op"),
      ("avro.manifest_list_ms",
        perOp(extra("avro.manifest_list_ms"), plans), "ms/plan"),
      ("avro.manifest_decode_ms",
        perOp(extra("avro.manifest_decode_ms"), plans), "ms/plan"),
      ("avro.manifests_decoded",
        perOp(extra("avro.manifests_decoded"), plans), "count/plan"),
      ("avro.entries_decoded",
        perOp(extra("avro.entries_decoded"), plans), "count/plan"),
      ("plan.ms", perOp(extra("plan.ms"), plans), "ms/plan"),
      ("plan.replay_ms", perOp(extra("plan.replay_ms"), plans), "ms/plan"),
      ("plan.prune_ms", perOp(extra("plan.prune_ms"), plans), "ms/plan"),
      ("plan.manifests_total",
        perOp(extra("plan.manifests_total"), plans), "count/plan"),
      ("plan.manifests_scanned",
        perOp(extra("plan.manifests_scanned"), plans), "count/plan"),
      ("plan.files_total", perOp(extra("plan.files_total"), plans), "count/plan"),
      ("plan.files_planned",
        perOp(extra("plan.files_planned"), plans), "count/plan"),
      ("plan.file_skip_ratio",
        if (plans.isEmpty) 0.0
        else 1 - ratio(total(extra("plan.files_planned"), plans),
          total(extra("plan.files_total"), plans)), "ratio"),
      ("plan.delete_files_attached",
        perOp(extra("plan.delete_files_attached"), plans), "count/plan"),
      ("plan.distributed_calls",
        perOp(extra("plan.distributed_calls"), plans), "count/plan"),
      ("plan.replay_mismatches",
        total(extra("plan.replay_mismatch"), plans), "count"),
      ("plan.part_spark_jobs",
        perOp(_.spark.jobs.toDouble, traced.filter(_.kind == "plan_part")),
        "count/op"),
      ("mutate.files_rewritten",
        perOp(extra("mutate.files_rewritten"), mutations), "count/op"),
      ("mutate.rows_rewritten",
        perOp(extra("mutate.rows_rewritten"), mutations), "count/op"),
      ("mutate.rows_changed",
        perOp(extra("mutate.rows_changed"), mutations), "count/op"),
      ("mutate.useful_ratio", ratio(
        total(extra("mutate.rows_changed"), mutations),
        total(extra("mutate.rows_rewritten"), mutations)), "ratio"),
      ("mutate.delete_files_written",
        perOp(extra("mutate.delete_files_written"), mutations), "count/op"),
      ("spark.jobs", perOp(_.spark.jobs.toDouble), "count/op"),
      ("spark.stages", perOp(_.spark.stages.toDouble), "count/op"),
      ("spark.tasks", perOp(_.spark.tasks.toDouble), "count/op"),
      ("spark.input_bytes", perOp(_.spark.inputBytes.toDouble), "B/op"),
      ("spark.input_records", perOp(_.spark.inputRecords.toDouble), "count/op"),
      ("spark.output_bytes", perOp(_.spark.outputBytes.toDouble), "B/op"),
      ("spark.shuffle_read_bytes",
        perOp(_.spark.shuffleReadBytes.toDouble), "B/op"),
      ("spark.shuffle_write_bytes",
        perOp(_.spark.shuffleWriteBytes.toDouble), "B/op"),
      ("spark.spill_bytes", perOp(_.spark.spillBytes.toDouble), "B/op"),
      ("spark.executor_run_ms", perOp(_.spark.executorRunMs.toDouble), "ms/op"),
      ("spark.executor_cpu_ms", perOp(_.spark.executorCpuMs), "ms/op"),
      ("spark.gc_ms", perOp(_.spark.gcMs.toDouble), "ms/op"),
      ("spark.driver_gap_ms", perOp(gap), "ms/op"),
      ("spark.job_share",
        ratio(total(_.spark.jobUnionMs), total(_.ms)), "ratio"),
      ("jvm.gc_ms", ratio(b.windowGcMs.toDouble, window.size), "ms/op"),
      ("jvm.heap_after_gc_mb", b.lastCycleHeapBytes / Report.MiB, "MB")) ++
      CorpusOps.Queries.flatMap(q => Seq(
        (s"ops.${q}_ms", kindP50(plain, q), "ms"),
        (s"ops.$q.jobs",
          perOp(_.spark.jobs.toDouble, traced.filter(_.kind == q)), "count/op")))
  }

  def metrics: Seq[(String, Double, String)] =
    if (trace) perLayer else endToEnd
}

object Report {
  val MiB: Double = 1024.0 * 1024.0
}

/** Minimal JSON writer for the record. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
