package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * and the sample at it; none below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted
      Some((100 * (s.length - 10) / s.length, s(s.length - 11)))
    }
}

/** One step of a workload: wall time of its calls, rows they wrote, after
  * it the bytes on disk and the bytes of the live rows, and whether it ran
  * traced. */
final case class StepStat(ms: Double, rows: Long, bytes: Long, liveBytes: Double,
    traced: Boolean)

object StepStat {
  /** Steps of a window whose `space_amp` counts: the first two, which
    * every window has, so that it does not move with the number of steps
    * a run reaches. */
  val SpaceSteps = 2

  def rowsPerS(s: collection.Seq[StepStat]): Double = s.map(_.rows).sum / (s.map(_.ms).sum / 1e3)

  /** The gated metrics every workload reports, from its steps and the
    * typical step's wall time. */
  def endToEnd(s: collection.Seq[StepStat], stepMs: Double): Map[String, (Double, String)] = Map(
    "op_p50_ms" -> (stepMs, "ms"),
    "rows_per_s" -> (rowsPerS(s), "1/s"),
    "space_amp" -> (Stats.median(s.take(SpaceSteps).map(x => x.bytes / x.liveBytes).toSeq), "ratio"))
}

/** What a workload run shares: the session, the seed, its scratch
  * directory, the tracer once tracing is on, and the tally of calls
  * attempted, failed and checked. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path) {
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  val checkFailures = mutable.ArrayBuffer.empty[String]
  /** Latency samples in ms by call name and whether the call ran traced:
    * successful calls of the current measurement window. */
  val latency = mutable.LinkedHashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]

  /** One call into the program, timed. A failure is counted and logged,
    * and the run goes on. */
  def call[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = stage(name)(f)
      val ms = (System.nanoTime() - t0) / 1e6
      latency.getOrElseUpdate((name, tracer.nonEmpty), mutable.ArrayBuffer.empty) += ms
      System.err.println(f"[graftbench] $name $ms%.0f ms")
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] $name failed: $e")
        None
    }
  }

  /** A traced span around `f` once tracing is on; just `f` before. */
  def stage[T](name: String)(f: => T): T = tracer.fold(f)(_.span(spark, name)(f))

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      checkFailures += what
      System.err.println(s"[graftbench] check failed: $what")
    }

  def samples(name: String): Seq[Double] =
    latency.get((name, false)).map(_.toSeq).getOrElse(Nil)

  /** A typical step: the sum over the calls a step makes of each one's
    * median latency, so that one slow call does not make a slow step. */
  def typicalStepMs(traced: Boolean): Double =
    latency.collect { case ((_, t), xs) if t == traced => Stats.median(xs.toSeq) }.sum
}

/** A workload: set-up that can be repeated, then steps until the time is
  * up, then output checks. Metrics are reported by name with a unit. */
trait Workload {
  /** Builds the inputs (and any starting table) under `dir`; returns the
    * generated input sizes, table name → (rows, bytes). */
  def setup(dir: Path): Map[String, (Long, Long)]
  /** Untimed steps before the first measurement window. */
  def warmupSteps: Int
  /** Fewest steps a measurement window takes, whatever its length. */
  def minSteps: Int
  /** Forgets the measurements of earlier windows (not the model). */
  def startWindow(): Unit
  /** One unit of work; `i` counts every step of the run from 0. */
  def step(i: Int): Unit
  /** Checks that need the whole run (final table contents). */
  def finish(): Unit
  /** The steps of the current window. */
  def stats: collection.Seq[StepStat]
  /** Named metrics of this workload only, beside the gated ones. */
  def detail(): Map[String, (Double, String)]
  /** Per-layer metrics of a traced window. */
  def layers(t: Tracer): Map[String, (Double, String)]
}

/** Several workloads in one process, one step of each per step: they
  * share the session, the warm-up and the measured window. A step's wall
  * time, rows and bytes are the sums of its parts'. */
final class Combined(parts: Seq[(String, Workload)]) extends Workload {
  private def each = parts.iterator.map(_._2)
  def setup(dir: Path): Map[String, (Long, Long)] = parts.flatMap { case (n, w) =>
    w.setup(dir.resolve(n)).map { case (k, v) => s"$n.$k" -> v }
  }.toMap
  def warmupSteps: Int = each.map(_.warmupSteps).max
  def minSteps: Int = each.map(_.minSteps).max
  def startWindow(): Unit = each.foreach(_.startWindow())
  def step(i: Int): Unit = each.foreach(_.step(i))
  def finish(): Unit = each.foreach(_.finish())
  def stats: collection.Seq[StepStat] = {
    val ss = parts.map(_._2.stats)
    (0 until ss.map(_.length).min).map { i =>
      val s = ss.map(_(i))
      StepStat(s.map(_.ms).sum, s.map(_.rows).sum, s.map(_.bytes).sum,
        s.map(_.liveBytes).sum, s.head.traced)
    }
  }
  def detail(): Map[String, (Double, String)] = each.flatMap(_.detail()).toMap
  def layers(t: Tracer): Map[String, (Double, String)] = each.flatMap(_.layers(t)).toMap
}

/** The layer metrics of every workload, with their units. */
object Layers {
  val units: Seq[(String, String)] =
    TableChurn.layerUnits ++ StreamUpsert.layerUnits ++ PanelPipeline.layerUnits
}

object Main {
  /** Set-up is repeated this many times; `setup_s` is the median. */
  val SetupReps = 3

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def json(m: Map[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.get("trace").contains("1")
    val work = Paths.get(opts("work")).toAbsolutePath
    val injectFailure = opts.get("inject-failure").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()

    if (opts.get("hash-inputs").contains("1")) {
      // generation is driver-side and needs no session
      println("INPUT_HASHES " + mapper.writeValueAsString(Inputs.hashes(workload, seed)))
      return
    }

    val builder = SparkSession.builder()
      .appName(s"graftbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // the counting file systems are the only difference of a traced
    // session; they stay in place for its untraced steps too, so the
    // tracing overhead leaves out their pass-through cost
    if (traced) builder
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    // drops the plain `file://` instance that session start cached, so
    // that the next lookup caches the counting one
    if (traced) org.apache.hadoop.fs.FileSystem.closeAll()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    try {
      val ctx = new Ctx(spark, seed, work)
      val w: Workload = workload match {
        case "panel_pipeline" => new PanelPipeline(ctx)
        case "lakehouse" => new Combined(Seq("table_churn" -> new TableChurn(ctx, injectFailure),
          "stream_upsert" -> new StreamUpsert(ctx)))
        case other => sys.error(s"unknown workload $other")
      }

      // a traced run traces its set-ups too (they hold the only
      // `create`), then its traced window
      val tracer = if (!traced) None else {
        val t = new Tracer
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t.queryListener)
        Some(t)
      }
      def tracing(on: Boolean): Unit = tracer.foreach { t =>
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        t.active = on
        ctx.tracer = if (on) tracer else None
      }
      tracing(true)

      // set-up, repeated; the last repetition's inputs are the ones used
      val setups = (0 until SetupReps).map { r =>
        val t0 = System.nanoTime()
        val sizes = w.setup(work.resolve(s"setup-$r"))
        val s = (System.nanoTime() - t0) / 1e9
        if (r > 0) Inputs.deleteTree(work.resolve(s"setup-${r - 1}"))
        (s, sizes)
      }
      val setupS = sessionS + Stats.median(setups.map(_._1))

      tracing(false)
      // a traced run warms up at least one step, so that its untraced and
      // traced steps are equally warm even where the untraced run measures
      // a cold step
      val warmup = if (traced) w.warmupSteps.max(1) else w.warmupSteps
      var steps = 0
      while (steps < warmup) { w.step(steps); steps += 1 }

      // whole steps until `seconds` have passed. A traced run traces every
      // other step, in the order untraced, traced, traced, untraced, so
      // that both kinds are as warm; the tracing overhead is the gap
      // between them.
      val heap = new HeapWatch(spark.sparkContext)
      heap.start()
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val first = steps
      val minSteps = if (traced) 2 * w.minSteps else w.minSteps
      w.startWindow()
      ctx.latency.clear()
      while (System.nanoTime() - t0 < seconds * 1e9 || steps - first < minSteps ||
          (traced && (steps - first) % 2 == 1)) {
        tracing(traced && Set(1, 2)((steps - first) % 4))
        w.step(steps)
        steps += 1
      }
      tracing(false)
      val gcS = gcSeconds() - gc0
      heap.stop()
      val plain = StepStat.endToEnd(w.stats.filterNot(_.traced), ctx.typicalStepMs(false)) ++
        Map("setup_s" -> (setupS, "s"), "peak_heap_mb" -> (heap.peakMb, "MB"))
      val detail = w.detail()
      w.finish()

      val metrics = tracer match {
        case None => plain
        case Some(t) =>
          t.writeSpans(work.resolve("spans.jsonl"))
          val withTrace = StepStat.endToEnd(w.stats.filter(_.traced), ctx.typicalStepMs(true))
          // every traced run names every layer; one a workload does not
          // use reads 0
          Layers.units.map { case (k, u) => k -> (0.0, u) }.toMap ++
            w.layers(t) ++ Map("jvm.gc_s" -> (gcS, "s")) ++
            Seq("op_p50_ms", "rows_per_s").map { k =>
              s"trace.overhead.$k" -> (withTrace(k)._1 / plain(k)._1 - 1, "ratio")
            }
      }
      val result = Map(
        "correct" -> ctx.checkFailures.isEmpty,
        "check_failures" -> ctx.checkFailures.toSeq,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "metrics" -> json(metrics),
        "end_to_end" -> json(plain),
        "detail" -> json(detail),
        "env" -> Map(
          "nproc" -> cores,
          "default_parallelism" -> spark.sparkContext.defaultParallelism,
          "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
          "spark_version" -> spark.version,
          "session_s" -> sessionS,
          "setup_reps_s" -> setups.map(_._1),
          "warmup_steps" -> warmup,
          "measured_steps" -> (steps - first),
          "gc_s" -> gcS),
        "inputs" -> setups.last._2.map { case (k, (rows, bytes)) =>
          k -> Map("rows" -> rows, "bytes" -> bytes) })
      println("BENCH_RESULT " + mapper.writeValueAsString(result))
    } finally spark.stop()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** Highest heap in use after a full collection during a window: after
  * each of the program's own full collections (from the collectors'
  * notifications), and once more after the window, when collections have
  * stopped releasing anything. A sample after a young collection would
  * count whatever the old generation has not yet collected, so it would
  * measure when collections ran rather than what the program keeps. No
  * collection is forced between the measured steps, so they run under the
  * program's own heap pressure; the forced ones come after `jvm.gc_s` is
  * read. */
final class HeapWatch(sc: org.apache.spark.SparkContext) {
  import HeapWatch._

  private val cleaned = new org.apache.spark.graftbench.CleanerCount(sc)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC") {
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          // notifications arrive on one thread
          peak = math.max(peak, after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum)
        }
      }
  }
  private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Unit = {
    emitters.foreach(_.removeNotificationListener(listener))
    peak = math.max(peak, settledHeap())
  }

  /** Heap in use once a full collection frees nothing more. Spark's
    * cleaner releases shuffles and broadcasts on its own thread, and only
    * after a collection found their owners unreachable; a busy machine
    * delays it. So collect, give the cleaner time, and repeat until a
    * round releases neither heap nor anything of Spark's. */
  private def settledHeap(): Long = {
    var used = Long.MaxValue
    var rounds = 0
    var settled = false
    while (!settled && rounds < MaxRounds) {
      val before = cleaned.get
      System.gc()
      val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      Thread.sleep(QuietMs)
      settled = cleaned.get == before && math.abs(used - now) < SettledBytes
      used = now
      rounds += 1
    }
    used
  }

  def peakMb: Double = peak / 1048576.0
}

object HeapWatch {
  /** Longest the settling collections go on. */
  val MaxRounds = 10
  /** Time the cleaner gets after each collection; it polls every 100 ms. */
  val QuietMs = 300L
  /** A round that frees less than this (and nothing of Spark's) settles. */
  val SettledBytes: Long = 1L << 20
}
