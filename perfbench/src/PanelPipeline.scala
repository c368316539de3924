package graftbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.etl.{Datasets, Extracts}
import graft.ml.{PipelineConfig, Runner}
import graft.ml.PipelineConfig.ConfigOps

/** The reference's monthly scoring batch, end to end: raw extracts →
  * monthly extracts → panel join → post-join features → train and score
  * (logistic regression, the reference's standard configuration) →
  * explanations → a parquet write of the scored list, with a parquet
  * hand-over between stages. Each step scores the next month. It never
  * touches a snapshot table. */
final class PanelPipeline(ctx: Ctx) extends Workload {
  import PanelPipeline._

  private val spark = ctx.spark
  private val pop = new Population(ctx.seed, Sirens)
  private val config = PipelineConfig.fromFile(ConfigPath)
  private var inputs: Path = _
  private val out = ctx.work.resolve("predictions")
  val stats = collection.mutable.ArrayBuffer.empty[StepStat]
  private val aucs = collection.mutable.ArrayBuffer.empty[Double]
  private val cacheMb = collection.mutable.ArrayBuffer.empty[Double]

  def setup(dir: Path): Map[String, (Long, Long)] = {
    inputs = dir
    Inputs.write(spark, inputTables(ctx.seed), dir)
  }

  /** The month step `i` scores: the last year of the calendar, in turn. */
  private def month(i: Int): Int = Gen.Months - 12 + i % 12

  /** A monthly batch runs in a fresh process, as the reference's does: the
    * one measured batch of a run is a cold one. A traced run warms up with
    * one untimed batch first, so its per-layer figures are those of a warm
    * batch. */
  def warmupSteps: Int = 0
  def minSteps: Int = 1
  def startWindow(): Unit = { stats.clear(); aucs.clear(); cacheMb.clear() }

  def step(i: Int): Unit = {
    val p = month(i)
    val t0 = System.nanoTime()
    ctx.call("panel_batch")(batch(p)).foreach { auc =>
      val ms = (System.nanoTime() - t0) / 1e6
      aucs += auc
      val predictionRows = spark.read.parquet(out.toString).count()
      stats += StepStat(ms, pop.panelRowsUpTo(p), Inputs.bytesUnder(out),
        predictionRows * PredictionRowBytes, ctx.tracer.nonEmpty)
      ctx.check(predictionRows == pop.scoredAt(p),
        s"month ${Gen.dateStr(p)}: $predictionRows predictions, " +
          s"${pop.scoredAt(p)} companies active")
      ctx.check(auc >= AucFloor, s"month ${Gen.dateStr(p)}: test AUC $auc < $AucFloor")
    }
  }

  /** Each stage's output is written to parquet and read back by the next
    * one, as the reference's extract, join, post-join and run scripts
    * hand over their datasets. */
  private def handOver(df: DataFrame, name: String): DataFrame = {
    val p = ctx.work.resolve("stages").resolve(name).toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** One monthly batch; returns the test-set AUC. */
  private def batch(p: Int): Double = {
    def raw(n: String) = spark.read.parquet(inputs.resolve(n).toString)
    val maxDate = Gen.dateStr(p)
    val minDate = Gen.dateStr(0)
    val (cot, deb, ap, alt, jud) = ctx.stage("etl.extracts") {
      (handOver(Extracts.cotisation(raw("cotisation"), minDate, Some(maxDate)), "cotisation"),
        handOver(Extracts.debit(raw("debit"), minDate, maxDate), "debit"),
        handOver(Extracts.ap(raw("ap_demande"), raw("ap_consommation"), minDate, maxDate), "ap"),
        handOver(Extracts.altares(raw("altares")), "altares"),
        handOver(Extracts.judgments(raw("judgments"), "code_nature", "date_jugement"), "judgments"))
    }
    val joined = ctx.stage("etl.join") {
      handOver(Datasets.joinDatasets(cot, deb, ap, raw("effectif"), jud, alt,
        raw("sirene_categories"), raw("sirene_dates"), raw("dgfip_yearly")), "joined")
    }
    val cfg = config.withOverrides(Map(
      "train_dates" -> Seq(Gen.dateStr(12), Gen.dateStr(p - 19)),
      "prediction_date" -> maxDate))
    val panel = ctx.stage("etl.postjoin")(handOver(Datasets.postJoin(joined, cfg), "panel"))
    val cached0 = cachedMb()
    val res = ctx.stage("ml.run")(Runner.run(spark, panel, cfg, randomSeed = ctx.seed))
    if (ctx.tracer.nonEmpty) cacheMb += cachedMb() - cached0
    val explained = ctx.stage("ml.explain") {
      val e = Runner.explain(res, res.predictionScored)
      // a traced run computes the explanations inside their own span
      if (ctx.tracer.nonEmpty) {
        e.persist()
        e.write.format("noop").mode("overwrite").save()
      }
      e
    }
    ctx.stage("io.write") {
      explained.select(col("siren"), col("période"), col("probability_1"), col("shap"))
        .write.mode("overwrite").parquet(out.toString)
    }
    spark.catalog.clearCache()
    res.metrics("Area under ROC curve")
  }

  private def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def finish(): Unit = ()

  def detail(): Map[String, (Double, String)] = Map(
    "panel_rows_per_s" -> (StepStat.rowsPerS(stats.filterNot(_.traced)), "1/s"),
    "panel_rows" -> (stats.map(_.rows.toDouble).sum / stats.length, "count"),
    "auc_min" -> (aucs.min, "ratio"))

  def layers(t: Tracer): Map[String, (Double, String)] = {
    val w = t.callMedians(t.callsOf("io.write"))
    Stages.flatMap { s =>
      val m = t.callMedians(t.callsOf(s))
      StageKinds.map { case (k, u) => s"$s.$k" -> (m.getOrElse(k, 0.0), u) }
    }.toMap ++ Map(
      "io.write.s" -> (w.getOrElse("s", 0.0), "s"),
      "io.write.bytes_written" -> (w.getOrElse("bytes_written", 0.0), "bytes"),
      "ml.run.cache_mb" -> (Stats.median(cacheMb.toSeq), "MB"))
  }
}

object PanelPipeline {
  /** Companies in the generated population. */
  val Sirens = 250
  /** The run configuration the reference ships, as the repo keeps it. */
  val ConfigPath: String = Paths.get("src/test/resources/reference_standard.json").toString
  /** The generator plants a debt, paydex and ratio signal ahead of every
    * judgment; a model that misses it scores below this test AUC. */
  val AucFloor = 0.75
  /** Logical bytes of a scored row: siren, month, probability and one
    * 8-byte explanation per feature of the standard configuration. */
  val PredictionRowBytes: Double = 9 + 4 + 8 + 41 * 8

  val Stages = Seq("etl.extracts", "etl.join", "etl.postjoin", "ml.run", "ml.explain")
  /** What a traced run reports of every stage: medians over its calls. */
  val StageKinds: Seq[(String, String)] = Seq("s" -> "s", "jobs" -> "count",
    "exec_cpu_s" -> "s", "shuffle_bytes" -> "bytes")
  val layerUnits: Seq[(String, String)] =
    Stages.flatMap(s => StageKinds.map { case (k, u) => s"$s.$k" -> u }) ++ Seq(
      "ml.run.cache_mb" -> "MB", "io.write.s" -> "s", "io.write.bytes_written" -> "bytes")

  def inputTables(seed: Long): Seq[Table] = new Population(seed, Sirens).rawTables()
}
