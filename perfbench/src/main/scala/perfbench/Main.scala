package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point: runs one workload and prints the run's record. The
  * last line of standard output is the result object
  * `{"correct", "attempted", "failed", "metrics"}`; the line before it
  * is a diagnostic stamp (host, master, load, heap, seed, per-kind
  * counts and failures), also written to `--record-dir`. */
object Main {
  val Master = "local[4]"

  val workloads: Map[String, Workload] =
    Seq(PlanHeavy, CorpusOps).map(w => w.name -> w).toMap

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .trim.split("\\s+")(0).toDouble
    catch { case _: Exception =>
      ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage }

  def main(argv: Array[String]): Unit = {
    val (recordDir, rest) = argv.indexOf("--record-dir") match {
      case -1 => (None, argv)
      case i => (Some(argv(i + 1)), argv.patch(i, Nil, 2))
    }
    val args = Args.parse(rest)
    val w = workloads.getOrElse(args.workload, {
      System.err.println(s"unknown workload ${args.workload}; known: " +
        workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val load0 = loadavg()
    val spark = SparkSession.builder()
      .master(Master)
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.workDir}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new Ctx(spark, args)
      val bench = new Bench(ctx, w)
      bench.run()
      val report = new Report(bench, args.trace)
      val samples = bench.allSamples
      val failed = samples.count(!_.ok)
      val correct = failed == 0 && bench.failureMessages.isEmpty
      val window = samples.filter(s => s.inWindow && s.ok)
      val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-Xmx")).lastOption.getOrElse("")
      def perKind(xs: Seq[Sample]) = Json.obj(
        xs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ks) =>
          val ms = ks.map(_.ms)
          val quartiles =
            if (ms.size < 2) Nil
            else {
              val (q1, _, q3) = Stats.quartiles(ms)
              Seq("q1_ms" -> Json.num(q1), "q3_ms" -> Json.num(q3))
            }
          k -> Json.obj(Seq("n" -> ms.size.toString,
            "p50_ms" -> Json.num(Stats.median(ms))) ++ quartiles :+
            ("ms" -> Json.arr(ms.map(m => Json.num(math.rint(m * 10) / 10)))))
        })
      // the traced cycles alone, to set beside an untraced run's per_kind
      val tracedKinds =
        if (args.trace) Seq("per_kind_traced" -> perKind(window.filter(_.traced)))
        else Nil
      val stamp = Json.obj(Seq(
        "workload" -> Json.str(w.name),
        "seed" -> args.seed.toString,
        "seconds" -> args.seconds.toString,
        "trace" -> args.trace.toString,
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "master" -> Json.str(Master),
        "xmx" -> Json.str(xmx),
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / Report.MiB),
        "loadavg_before" -> Json.num(load0),
        "loadavg_after" -> Json.num(loadavg()),
        "setup_s_all" -> Json.arr(bench.setupSeconds.map(Json.num)),
        "window_s" -> Json.num(bench.windowSeconds),
        "phases_s" -> Json.obj(bench.phases.toSeq.map { case (k, v) =>
          k -> Json.num(v) }),
        "samples" -> window.size.toString,
        "tail_samples_above_p90" -> (if (window.isEmpty) "0"
          else Stats.samplesAbove(window.map(_.ms), 90).toString),
        "per_kind" -> perKind(window)) ++ tracedKinds ++ Seq(
        "failures" -> Json.arr(bench.failureMessages.take(10).map(Json.str))))
      val metrics = Json.obj(report.metrics.map { case (name, v, unit) =>
        name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })
      val result = Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> samples.size.toString,
        "failed" -> failed.toString,
        "metrics" -> metrics))
      recordDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        val spans = ctx.replay.spans.map(s => Json.obj(Seq(
          "op" -> s.op.toString, "name" -> Json.str(s.name),
          "start_us" -> Json.num(s.startNs / 1e3),
          "dur_us" -> Json.num(s.durNs / 1e3))))
        val file = Paths.get(d,
          s"${w.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
        Files.write(file, Json.obj(Seq("stamp" -> stamp, "result" -> result,
          "spans" -> Json.arr(spans))).getBytes(UTF_8))
      }
      println(Json.obj(Seq("stamp" -> stamp)))
      println(result)
    } finally spark.stop()
  }
}
