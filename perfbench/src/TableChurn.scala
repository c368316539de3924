package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.sources.SnapshotTable

/** A snapshot table holding the monthly panel, clustered by month, under
  * a month-by-month churn. Set-up creates it from the history; each step
  * is one month: `append` the new month, `merge` revisions skewed toward
  * recent months, `deleteMoR` the companies struck off, `read().count()`,
  * a 3-month `readWhere`, then the month's `optimize` and `vacuum`. A
  * driver-side model of every applied call checks each count and the
  * final table. */
final class TableChurn(ctx: Ctx, injectFailure: Boolean) extends Workload {
  import TableChurn._

  private val spark = ctx.spark
  private val pop = new Population(ctx.seed, Sirens)
  /** Draws the starting rows and then every call's rows; reset by each
    * set-up, so a run's calls depend on the seed alone. */
  private var rng: SplittableRandom = _
  private var path: String = _

  /** The model: (siren, month) → row, as the table should hold it. */
  private val model = mutable.HashMap.empty[(String, Int), Row]
  /** Sirens with rows, by month, for drawing revision keys. */
  private val present = mutable.HashMap.empty[Int, mutable.ArrayBuffer[String]]
  private val struck = mutable.HashSet.empty[String]
  private var commits = 0
  val stats = mutable.ArrayBuffer.empty[StepStat]
  private val filesReadFrac = mutable.ArrayBuffer.empty[Double]
  private val mergeWriteAmp = mutable.ArrayBuffer.empty[Double]

  private def add(r: Row, t: Int): Unit = {
    val siren = r.getString(0)
    if (!model.contains((siren, t)))
      present.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += siren
    model((siren, t)) = r
  }

  private def monthRow(f: Firm, t: Int, rev: Int): Row =
    PanelRow.row(f.siren, t, f.eff + rng.nextInt(5) - 2,
      f.cot * (0.9 + rng.nextDouble() * 0.2),
      if (f.distressed(t)) f.cot * rng.nextDouble() * 3 else 0.0, rev)

  def setup(dir: Path): Map[String, (Long, Long)] = {
    model.clear(); present.clear(); struck.clear(); commits = 0
    rng = new SplittableRandom(ctx.seed ^ 0xc0ffeeL)
    val history = initialRows(pop, rng)
    history.foreach { case (t, r) => add(r, t) }
    path = dir.resolve("panel").toString
    val table = Table("panel", PanelRow.schema, history.map(_._2))
    ctx.call("sources.create") {
      SnapshotTable.create(table.df(spark, CreateParts).orderBy("période"), path)
    }
    commits += 1
    Map("panel" -> (table.rows.length.toLong, Inputs.bytesUnder(dir)))
  }

  def warmupSteps: Int = 2
  def minSteps: Int = 2
  def startWindow(): Unit = Seq(stats, filesReadFrac, mergeWriteAmp).foreach(_.clear())

  def step(i: Int): Unit = {
    val m = HistoryMonths + i
    val t0 = callTotal()
    var written = 0L

    val fresh = pop.firms.filter(f => f.live(m) && !struck(f.siren)).map(f => monthRow(f, m, 0))
    if (ctx.call("sources.append") {
      SnapshotTable.append(Table("append", PanelRow.schema, fresh).df(spark, 1), path)
    }.isDefined) {
      fresh.foreach(add(_, m)); commits += 1; written += fresh.length
    }

    val revisions = revisionRows(m)
    val updates = Table("merge", PanelRow.schema, revisions).df(spark, 1)
    val fs0 = FsOps.snapshot()
    if (ctx.call("sources.merge") {
      SnapshotTable.merge(updates, path, Seq("siren", "période"))
    }.isDefined) {
      revisions.foreach(r => add(r, monthOf(r)))
      commits += 1; written += revisions.length
      if (ctx.tracer.nonEmpty)
        mergeWriteAmp += (FsOps.snapshot().last - fs0.last).toDouble /
          (revisions.length * PanelRow.bytes)
    }
    if (injectFailure && i == 1)
      ctx.call("sources.merge")(SnapshotTable.merge(updates, path + "-missing", Seq("siren")))

    val gone = strikeOff()
    if (ctx.call("sources.deleteMoR") {
      SnapshotTable.deleteMoR(spark, path, col("siren").isin(gone: _*))
    }.isDefined) {
      val keys = model.keys.filter(k => gone.contains(k._1)).toSeq
      keys.foreach(k => model.remove(k))
      present.values.foreach(_.filterInPlace(s => !gone.contains(s)))
      struck ++= gone; commits += 1; written += keys.length
    }

    ctx.call("sources.read")(SnapshotTable.read(spark, path).count()).foreach { n =>
      ctx.check(n == model.size, s"month $m: read ${n} rows, model holds ${model.size}")
    }
    val range = col("période").between(Gen.date(m - 2), Gen.date(m))
    ctx.call("sources.readWhere")(SnapshotTable.readWhere(spark, path, range).count()).foreach { n =>
      val want = model.keys.count(k => k._2 >= m - 2 && k._2 <= m)
      ctx.check(n == want, s"month $m: readWhere ${n} rows, model holds $want")
    }
    ctx.tracer.foreach { t =>
      val total = SnapshotTable.read(spark, path).inputFiles.length
      t.callsOf("sources.readWhere").lastOption
        .foreach(c => filesReadFrac += c.scannedFiles.toDouble / total)
    }

    if (ctx.call("sources.optimize")(SnapshotTable.optimize(spark, path, TargetFileBytes, sortCols = Seq("période"))).isDefined)
      commits += 1
    ctx.call("sources.vacuum")(SnapshotTable.vacuum(spark, path, keep = KeepVersions, graceMs = 0L))

    stats += StepStat(callTotal() - t0, written,
      Inputs.bytesUnder(java.nio.file.Paths.get(path)), model.size * PanelRow.bytes,
      ctx.tracer.nonEmpty)
  }

  /** Sum of every successful call's latency so far. */
  private def callTotal(): Double = ctx.latency.valuesIterator.map(_.sum).sum

  private def monthOf(r: Row): Int = {
    val d = r.getDate(1).toLocalDate
    ((d.getYear - Gen.Month0.getYear) * 12 + d.getMonthValue - 1)
  }

  /** Revisions of existing rows, most of them in recent months: a fixed
    * number per month of age (`RevisionsByAge`), on companies the seed
    * draws. */
  private def revisionRows(m: Int): IndexedSeq[Row] =
    RevisionsByAge.zipWithIndex.flatMap { case (n, age) =>
      val ss = present(m - age)
      val picked = mutable.LinkedHashSet.empty[String]
      while (picked.size < n) picked += ss(rng.nextInt(ss.length))
      picked.toSeq.map { s =>
        val old = model((s, m - age))
        PanelRow.row(s, m - age, old.getInt(2), old.getDouble(3) * 1.01,
          old.getDouble(4) + 10.0, old.getInt(5) + 1)
      }
    }.toIndexedSeq

  private def strikeOff(): Seq[String] = {
    val live = present.getOrElse(present.keys.max, mutable.ArrayBuffer.empty)
    (0 until StruckPerMonth).map(_ => live(rng.nextInt(live.length))).distinct
  }

  def finish(): Unit = {
    val vs = SnapshotTable.versions(spark, path)
    ctx.check(vs.nonEmpty && vs.max + 1 == commits,
      s"log head is v${vs.lastOption.getOrElse(-1)}, $commits commits issued")
    val rows = SnapshotTable.read(spark, path)
      .select(PanelRow.schema.fieldNames.toSeq.map(col): _*).collect()
    val got = rows.map(r => (r.getString(0), monthOf(r)) -> r).toMap
    ctx.check(got.size == rows.length, s"${rows.length - got.size} duplicate keys in the table")
    val wrong = model.count { case (k, r) => !got.get(k).exists(_ == r) }
    ctx.check(wrong == 0 && got.size == model.size,
      s"final table: ${got.size} rows, model ${model.size}, $wrong differ")
  }

  private def verbMs(v: String) = ctx.samples(s"sources.$v")

  def detail(): Map[String, (Double, String)] = {
    val verbs = Seq("append", "merge", "deleteMoR", "read", "readWhere", "optimize", "vacuum")
    val calls = verbs.flatMap(verbMs)
    val maintain = verbMs("optimize").zip(verbMs("vacuum")).map { case (a, b) => a + b }
    Map("churn_ops_per_s" -> (calls.length / (calls.sum / 1e3), "1/s"),
      "merge_p50_ms" -> (Stats.median(verbMs("merge")), "ms"),
      "append_p50_ms" -> (Stats.median(verbMs("append")), "ms"),
      "delete_p50_ms" -> (Stats.median(verbMs("deleteMoR")), "ms"),
      "read_p50_ms" -> (Stats.median(verbMs("read")), "ms"),
      "read_where_p50_ms" -> (Stats.median(verbMs("readWhere")), "ms"),
      "cycles" -> (stats.length.toDouble, "count"),
      "log_versions" -> (SnapshotTable.versions(spark, path).length.toDouble, "count")) ++
      (if (maintain.isEmpty) Map.empty
       else Map("maintain_p50_ms" -> (Stats.median(maintain), "ms"))) ++
      Stats.tail(verbMs("merge")).map { case (p, v) =>
        Map("merge_tail_ms" -> (v, "ms"), "merge_tail_pct" -> (p.toDouble, "pct")) }
        .getOrElse(Map.empty)
  }

  def layers(t: Tracer): Map[String, (Double, String)] = {
    val perVerb = Verbs.flatMap { v =>
      val m = t.callMedians(t.callsOf(s"sources.$v"))
      VerbKinds.map { case (k, u) => s"sources.$v.$k" -> (m.getOrElse(k, 0.0), u) }
    }
    (perVerb ++ Seq(
      "sources.merge.write_amp" -> (Stats.median(mergeWriteAmp.toSeq), "ratio"),
      "sources.readWhere.files_read_frac" -> (Stats.median(filesReadFrac.toSeq), "ratio"),
      "sources.log_versions" ->
        (SnapshotTable.versions(spark, path).length.toDouble, "count"))).toMap
  }
}

object TableChurn {
  val Sirens = 1000
  /** Months of history the table is created with. */
  val HistoryMonths = 66
  /** Partitions of the generated history, which `create` receives sorted
    * by month. */
  val CreateParts = 8
  /** Revisions per step by month of age: 400 in all. */
  val RevisionsByAge: Seq[Int] = Seq(200, 100, 50, 25, 13, 12)
  val StruckPerMonth = 3
  val KeepVersions = 8
  val TargetFileBytes: Long = 256L << 10
  val Verbs = Seq("create", "append", "merge", "deleteMoR", "read", "readWhere",
    "optimize", "vacuum")
  /** What a traced run reports of every verb: medians over its calls. */
  val VerbKinds: Seq[(String, String)] = Seq("s" -> "s", "jobs" -> "count",
    "exec_cpu_s" -> "s") ++
    Seq("stat", "exists", "list", "open", "create", "rename", "delete")
      .map(k => s"fs_$k" -> "count") :+ ("bytes_written" -> "bytes")
  val layerUnits: Seq[(String, String)] =
    Verbs.flatMap(v => VerbKinds.map { case (k, u) => s"sources.$v.$k" -> u }) ++ Seq(
      "sources.merge.write_amp" -> "ratio", "sources.readWhere.files_read_frac" -> "ratio",
      "sources.log_versions" -> "count")

  /** The table's starting rows, month by month. */
  def initialRows(pop: Population, rng: SplittableRandom): IndexedSeq[(Int, Row)] =
    for {
      t <- 0 until HistoryMonths; f <- pop.firms if f.live(t)
    } yield t -> PanelRow.row(f.siren, t, f.eff + rng.nextInt(5) - 2,
      f.cot * (0.9 + rng.nextDouble() * 0.2),
      if (f.distressed(t)) f.cot * rng.nextDouble() * 3 else 0.0, 0)

  def inputTables(seed: Long): Seq[Table] = {
    val rng = new SplittableRandom(seed ^ 0xc0ffeeL)
    Seq(Table("panel", PanelRow.schema,
      initialRows(new Population(seed, Sirens), rng).map(_._2)))
  }
}
