package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.catalog.{Catalog, LocalCatalog}
import graft.io.{FileIO, HadoopFileIO}
import graft.table.Table

/** `cacheDir`, when given, keeps generated inputs that depend on no
  * argument from one run to the next. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, workDir: String, cacheDir: Option[String] = None)

object Args {
  val usage = "usage: perfbench.Main --workload <name> --seed <n> " +
    "--seconds <n> --trace <0|1> --work-dir <dir> [--cache-dir <dir>]"

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, usage)
    val m = argv.grouped(2).map(a => a(0) -> a(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(
      s"missing $k; $usage"))
    val trace = get("--trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace $other; $usage")
    }
    val a = Args(get("--workload"), get("--seed").toLong,
      get("--seconds").toInt, trace, get("--work-dir"), m.get("--cache-dir"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }
}

/** The catalog and FileIO an operation runs against: counting wrappers
  * in traced cycles, the plain implementations otherwise. */
final case class Handles(catalog: Catalog, io: FileIO) {
  /** `t` re-bound to these handles, at the same metadata. */
  def bind(t: Table): Table = new Table(catalog, t.id, t.metadata, io)
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val counters = new Counters
  val replay = new PlanReplay
  private val extras = mutable.Map.empty[String, Double]
  private var opIndex = 0L

  val plainIo: FileIO = new HadoopFileIO(spark.sparkContext.hadoopConfiguration)
  val tracedIo: FileIO = new CountingFileIO(plainIo, counters)

  /** Every table of the run lives here. */
  def warehouse: String = path("warehouse")

  def handles(traced: Boolean): Handles = {
    val cat = new LocalCatalog(warehouse)
    if (traced) Handles(new CountingCatalog(cat, counters), tracedIo)
    else Handles(cat, plainIo)
  }

  def path(parts: String*): String =
    (args.workDir +: parts).mkString("/")

  /** Adds to a per-operation metric of the operation now running. */
  def note(key: String, v: Double): Unit =
    extras(key) = extras.getOrElse(key, 0.0) + v

  /** Notes what a mutation did, from its snapshot's summary, under
    * `mutate.*`; `changed` is the rows the benchmark expects it to change. */
  def noteMutation(s: graft.spec.Summary, changed: Long): Unit = {
    import graft.spec.Summary._
    note("mutate.calls", 1)
    note("mutate.files_rewritten", s.counter(DeletedDataFiles))
    note("mutate.rows_rewritten", s.counter(DeletedRecords))
    note("mutate.rows_changed", changed)
    note("mutate.delete_files_written", s.counter(AddedDeleteFiles))
  }

  def currentOp: Long = opIndex

  private[perfbench] def beginOp(): Long = {
    extras.clear(); opIndex += 1; opIndex
  }
  private[perfbench] def takeExtras(): Map[String, Double] = {
    val r = extras.toMap; extras.clear(); r
  }
}

/** One operation of a workload: `run` is timed, `check` (untimed)
  * compares its output with an expectation computed without
  * `graft.table`, and `afterTraced` (untimed, traced cycles only)
  * gathers per-layer detail such as the planning replay. */
abstract class Op(val kind: String) {
  def run(h: Handles): Unit
  def check(): Option[String]
  def afterTraced(ctx: Ctx): Unit = ()
}

trait Workload {
  def name: String
  /** Prepares inputs and expectations once per run (not timed). */
  def prepare(ctx: Ctx): Unit
  /** Copies or registers what set-up attempt `attempt` starts from
    * (not timed). */
  def stage(ctx: Ctx, attempt: Int): Unit = ()
  /** Builds the measured state from what `stage` left; run several
    * times and timed, the state of the last call is measured. Returns
    * why the set-up's output is wrong, if it is. */
  def setup(ctx: Ctx, attempt: Int): Option[String]
  /** Untimed cycles before the measured window. */
  def warmupCycles: Int = 1
  /** Whether the warm-up cycles run on `prepare`'s state before the
    * set-ups rather than on the last set-up's state after them; then
    * no set-up pays the first-call costs of the code the cycles run. */
  def warmsUpBeforeSetup: Boolean = false
  /** Cycles the inputs allow; the measured window ends early at this. */
  def maxCycles: Int = Int.MaxValue
  /** The operations of cycle `n`. */
  def cycle(ctx: Ctx, n: Int, rng: scala.util.Random): Seq[Op]
}

final case class Sample(kind: String, ms: Double, ok: Boolean,
    traced: Boolean, inWindow: Boolean, spark: GroupStats,
    layer: Map[String, Long], extras: Map[String, Double])

/** Heap and GC figures from the JVM's management beans. */
final class JvmProbe {
  import scala.jdk.CollectionConverters._
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  private def collectedHeap(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Heap in use right after a full collection: the live set. Each
    * collection lets Spark's context cleaner release the blocks of
    * garbage broadcasts, RDDs and shuffles, which the next one frees, so
    * collect until the heap stops shrinking. */
  def liveHeapBytes(): Long = {
    var used = collectedHeap()
    var last = Long.MaxValue
    var rounds = 0
    while (used < last * 0.99 && rounds < JvmProbe.MaxRounds) {
      last = used
      Thread.sleep(JvmProbe.CleanerWaitMs)
      used = collectedHeap()
      rounds += 1
    }
    used
  }
}

object JvmProbe {
  val CleanerWaitMs = 300L
  val MaxRounds = 5
}

/** Runs one workload: set-up several times and the warm-up cycles (after
  * the set-ups, or before them if the workload asks), then whole cycles
  * of operations until `--seconds` have passed, one closed-loop client
  * on the calling thread. In traced runs even cycles run traced and odd
  * cycles plain, so tracing overhead is measured in the same process and
  * hour. */
final class Bench(ctx: Ctx, w: Workload) {
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val accounting =
    if (ctx.args.trace) Some(new SparkAccounting(sc)) else None
  private val rng = new scala.util.Random(ctx.args.seed)
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val probe = new JvmProbe

  var setupSeconds: Seq[Double] = Nil
  var windowSeconds = 0.0
  var windowGcMs = 0L
  /** Live heap after the first measured cycle, a point every run of a
    * workload reaches in the same state, so it does not grow with the
    * cycles a faster run gets through; and, in traced runs, after the
    * last cycle. */
  var firstCycleHeapBytes = 0L
  var lastCycleHeapBytes = 0L

  def allSamples: Seq[Sample] = samples.toSeq
  def failureMessages: Seq[String] = failures.toSeq

  private def runOp(op: Op, traced: Boolean, inWindow: Boolean): Unit = {
    val idx = ctx.beginOp()
    val group = s"perfbench-$idx"
    // plain cycles set no job group and wait for no listener events, so
    // they cost what an untraced run's cycles cost
    val account = accounting.filter(_ => traced)
    account.foreach(_ => sc.setJobGroup(group, s"perfbench ${w.name} ${op.kind}"))
    val handles = ctx.handles(traced)
    val before = ctx.counters.snapshot()
    val t0 = System.nanoTime()
    val err = try { op.run(handles); None }
      catch { case NonFatal(e) => Some(s"${op.kind} threw ${e}") }
    val ms = (System.nanoTime() - t0) / 1e6
    account.foreach(_ => sc.clearJobGroup())
    val layer = Counters.diff(ctx.counters.snapshot(), before)
    val stats = account.map(_.finish(group)).getOrElse(GroupStats.empty)
    val verdict = err.orElse(
      try op.check().map(m => s"${op.kind} wrong: $m")
      catch { case NonFatal(e) => Some(s"${op.kind} check threw $e") })
    if (traced && verdict.isEmpty)
      try op.afterTraced(ctx)
      catch { case NonFatal(e) => failures += s"${op.kind} trace threw $e" }
    verdict.foreach(failures += _)
    samples += Sample(op.kind, ms, verdict.isEmpty, traced, inWindow, stats,
      layer, ctx.takeExtras())
  }

  /** Seconds spent in each phase of the run, for the stamp. */
  val phases = mutable.LinkedHashMap.empty[String, Double]

  private def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  def run(): Unit = {
    phase("prepare")(w.prepare(ctx))
    var n = 0
    def warmUp(): Unit = phase("warmup") {
      while (n < w.warmupCycles) {
        w.cycle(ctx, n, rng).foreach(runOp(_, traced = false, inWindow = false))
        n += 1
      }
    }
    if (w.warmsUpBeforeSetup) warmUp()
    setupSeconds = (0 until Bench.SetupRuns).map { i =>
      w.stage(ctx, i)
      val t0 = System.nanoTime()
      val wrong = w.setup(ctx, i)
      val s = (System.nanoTime() - t0) / 1e9
      wrong.foreach(m => failures += s"setup $i wrong: $m")
      s
    }
    if (!w.warmsUpBeforeSetup) warmUp()
    val gc0 = probe.gcMs
    var forcedGcMs = 0L
    var start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var measured = 0
    // traced runs alternate traced and plain cycles: at least one of each
    val minCycles = if (ctx.args.trace) 2 else 1
    while ((elapsed < ctx.args.seconds || measured < minCycles) &&
        n < w.maxCycles) {
      val traced = ctx.args.trace && measured % 2 == 0
      w.cycle(ctx, n, rng).foreach(runOp(_, traced, inWindow = true))
      n += 1; measured += 1
      // full collections after the first cycle give the live heap; their
      // pause is excluded from `elapsed`
      if (measured == 1) {
        val (g, gcBefore) = (System.nanoTime(), probe.gcMs)
        firstCycleHeapBytes = probe.liveHeapBytes()
        start += System.nanoTime() - g
        forcedGcMs += probe.gcMs - gcBefore
      }
    }
    windowSeconds = elapsed
    windowGcMs = probe.gcMs - gc0 - forcedGcMs
    if (ctx.args.trace) lastCycleHeapBytes = probe.liveHeapBytes()
    accounting.foreach(_.stop())
  }
}

object Bench {
  val SetupRuns = 3
}
