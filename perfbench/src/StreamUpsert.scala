package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sources.SnapshotTable
import graft.streaming.Streaming

/** Change records arriving as parquet files, one file per trigger,
  * applied to a keyed snapshot table by `Streaming.cdcApplyToSnapshot`
  * (latest row per key within a batch, then one keyed merge). Each step
  * releases the next few files and runs the stream until they are
  * applied, resuming from its checkpoint as a scheduled job would. */
final class StreamUpsert(ctx: Ctx) extends Workload {
  import StreamUpsert._

  private val spark = ctx.spark
  private val changes = new ChangeStream(ctx.seed, Keys, ChangeFiles, RowsPerFile)
  private var staged: IndexedSeq[Path] = _
  private var input: Path = _
  private var table: String = _
  private var checkpoint: String = _
  private var released = 0
  /** Triggers before the current measurement window. */
  private var windowFrom = 0
  /** Progress of the triggers of traced steps. */
  private val tracedProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  val stats = mutable.ArrayBuffer.empty[StepStat]

  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  def setup(dir: Path): Map[String, (Long, Long)] = {
    table = dir.resolve("table").toString
    checkpoint = dir.resolve("checkpoint").toString
    input = Files.createDirectories(dir.resolve("input"))
    released = 0
    SnapshotTable.create(changes.base.df(spark, 4), table)
    // one parquet file per trigger: partition i of the write holds file i
    val rows = (0 until ChangeFiles).flatMap(i => changes.file(i).rows.map(r => (i, r)))
    val parts = spark.sparkContext.parallelize(rows, 4)
      .partitionBy(new HashPartitioner(ChangeFiles)).values
    val stagingDir = dir.resolve("staging")
    spark.createDataFrame(parts, changes.schema).write.parquet(stagingDir.toString)
    staged = Files.list(stagingDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toIndexedSeq
      .sortBy(_.getFileName.toString)
    require(staged.length == ChangeFiles,
      s"${staged.length} change files staged, want $ChangeFiles")
    Map("base" -> (Keys.toLong, Inputs.bytesUnder(Path.of(table))),
      "changes" -> (rows.length.toLong, Inputs.bytesUnder(stagingDir)))
  }

  def warmupSteps: Int = 2
  def minSteps: Int = 2
  def startWindow(): Unit = { windowFrom = events.size; stats.clear(); tracedProgress.clear() }

  def step(i: Int): Unit = {
    val n0 = events.size
    // release the next files with increasing modification times: the
    // file source takes them oldest first, one per trigger
    val batch = staged.slice(released, released + FilesPerStep)
    require(batch.nonEmpty, s"all $ChangeFiles change files applied; raise ChangeFiles")
    val now = System.currentTimeMillis()
    batch.zipWithIndex.foreach { case (p, k) =>
      val dst = Files.move(p, input.resolve(p.getFileName))
      dst.toFile.setLastModified(now - 60000 + (released + k) * 10)
    }
    released += batch.length
    val stream = spark.readStream.schema(changes.schema)
      .option("maxFilesPerTrigger", 1).parquet(input.toString)
    val t0 = System.nanoTime()
    ctx.call("streaming.cdcApply") {
      Streaming.cdcApplyToSnapshot(spark, stream, table, Seq("key"), Seq("seq"), checkpoint)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    if (ctx.tracer.nonEmpty) tracedProgress ++= events.asScala.drop(n0)
    stats += StepStat(ms, batch.length.toLong * RowsPerFile, Inputs.bytesUnder(Path.of(table)), Keys * changes.rowBytes,
      ctx.tracer.nonEmpty)
  }

  def finish(): Unit = {
    val triggers = events.size
    ctx.check(triggers == released, s"$triggers triggers for $released files")
    val vs = SnapshotTable.versions(spark, table)
    ctx.check(vs.nonEmpty && vs.max == triggers,
      s"log head is v${vs.lastOption.getOrElse(-1)} after $triggers triggers on v0")
    // latest row per key, from the generator alone
    val want = mutable.HashMap.empty[Long, Row]
    (changes.base.rows.iterator ++ (0 until released).iterator.flatMap(changes.file(_).rows))
      .foreach(r => want(r.getLong(0)) = r)
    val got = SnapshotTable.read(spark, table)
      .selectExpr(changes.schema.fieldNames.toSeq: _*).collect()
    val byKey = got.map(r => r.getLong(0) -> r).toMap
    val wrong = want.count { case (k, r) => !byKey.get(k).exists(_ == r) }
    ctx.check(got.length == want.size && wrong == 0,
      s"final table: ${got.length} rows, ${want.size} keys, $wrong differ")
  }

  /** Progress of the triggers of the current window. */
  private def measured: Seq[StreamingQueryProgress] = events.asScala.toSeq.drop(windowFrom)

  def detail(): Map[String, (Double, String)] = {
    val d = measured.map(_.batchDuration.toDouble)
    Map("trigger_p50_ms" -> (Stats.median(d), "ms"),
      "stream_rows_per_s" -> (StepStat.rowsPerS(stats.filterNot(_.traced)), "1/s"),
      "triggers" -> (d.length.toDouble, "count")) ++
      Stats.tail(d).map { case (p, v) =>
        Map("trigger_tail_ms" -> (v, "ms"), "trigger_tail_pct" -> (p.toDouble, "pct")) }
        .getOrElse(Map.empty)
  }

  def layers(t: Tracer): Map[String, (Double, String)] = {
    val ps = tracedProgress.toSeq
    def dur(k: String) = Stats.median(ps.map(p => p.durationMs.getOrDefault(k, 0L).toDouble))
    val calls = t.callsOf("streaming.cdcApply")
    Map(
      "streaming.trigger.add_batch_ms" -> (dur("addBatch"), "ms"),
      "streaming.trigger.query_planning_ms" -> (dur("queryPlanning"), "ms"),
      "streaming.trigger.get_batch_ms" -> (dur("getBatch"), "ms"),
      "streaming.trigger.wal_commit_ms" -> (dur("walCommit"), "ms"),
      "streaming.trigger.commit_offsets_ms" -> (dur("commitOffsets"), "ms"),
      "streaming.trigger.jobs" -> (Stats.median(ps.map(p =>
        Option(t.batchJobs.get(p.batchId.toString)).map(_.toDouble).getOrElse(0.0))), "count"),
      "streaming.trigger.fs_ops" -> (calls.map(t.fsTotal).sum.toDouble / ps.length, "count"),
      "streaming.trigger.rows" -> (Stats.median(ps.map(_.numInputRows.toDouble)), "count"))
  }
}

object StreamUpsert {
  val Keys = 10000
  val ChangeFiles = 64
  val RowsPerFile = 1000
  /** Triggers per step: files released before each run of the stream. */
  val FilesPerStep = 2

  val layerUnits: Seq[(String, String)] = Seq("add_batch_ms", "query_planning_ms",
    "get_batch_ms", "wal_commit_ms", "commit_offsets_ms").map(k => s"streaming.trigger.$k" -> "ms") ++
    Seq("jobs", "fs_ops", "rows").map(k => s"streaming.trigger.$k" -> "count")

  def inputTables(seed: Long): Seq[Table] = {
    val c = new ChangeStream(seed, Keys, ChangeFiles, RowsPerFile)
    c.base +: (0 until ChangeFiles).map(c.file)
  }
}
