package graftbench

import java.io.{FilterOutputStream, OutputStream}
import java.net.URI
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Filesystem operation counters, process-wide. The counting file
  * systems below add to them; a span reads the difference between its
  * start and its end. */
object FsOps {
  val Kinds: Seq[String] =
    Seq("stat", "exists", "list", "open", "create", "rename", "delete", "mkdirs")
  private val idx = Kinds.zipWithIndex.toMap
  /** One slot per kind, then bytes written through created streams. */
  val counts = new AtomicLongArray(Kinds.length + 1)
  private val BytesSlot = Kinds.length

  def add(kind: String): Unit = counts.incrementAndGet(idx(kind))
  def wrote(n: Long): Unit = counts.addAndGet(BytesSlot, n)
  def snapshot(): Array[Long] = Array.tabulate(counts.length())(counts.get)
}

/** Counts the bytes that pass through to the wrapped stream. */
private final class CountingStream(out: OutputStream) extends FilterOutputStream(out) {
  override def write(b: Int): Unit = { out.write(b); FsOps.wrote(1) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); FsOps.wrote(len)
  }
}

/** `file://` through a plain `LocalFileSystem`, counting each call by
  * kind. Every call is passed on unchanged; installed with
  * `spark.hadoop.fs.file.impl` in traced runs only. */
class CountingFileSystem extends FilterFileSystem(new LocalFileSystem()) {
  private def counted(inner: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(new CountingStream(inner), null) {
      override def hflush(): Unit = inner.hflush()
      override def hsync(): Unit = inner.hsync()
    }

  override def getFileStatus(f: Path): FileStatus = {
    FsOps.add("stat"); super.getFileStatus(f)
  }
  override def exists(f: Path): Boolean = {
    FsOps.add("exists"); fs.exists(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsOps.add("list"); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    FsOps.add("list"); super.listLocatedStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsOps.add("open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsOps.add("create")
    counted(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsOps.add("create")
    counted(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  }
  override def primitiveCreate(f: Path, absolutePermission: FsPermission,
      flag: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream = {
    FsOps.add("create")
    counted(super.primitiveCreate(f, absolutePermission, flag, bufferSize,
      replication, blockSize, progress, checksumOpt))
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsOps.add("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsOps.add("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsOps.add("mkdirs"); super.mkdirs(f, permission)
  }
}

/** The `FileContext` face of [[CountingFileSystem]] (streaming
  * checkpoints write through `FileContext`), installed with
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` in traced runs. */
class CountingFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingFileSystem(), conf, "file", false)

/** Plan walks that look through adaptive query execution. */
private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** What one traced call did: wall time, Spark jobs, executor CPU,
  * shuffle and output bytes, filesystem operations by kind. */
final class CallStats(val name: String) {
  var wallNs = 0L
  var fs: Array[Long] = Array.empty
  @volatile var jobs = 0
  @volatile var cpuNs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var scannedFiles = 0L
}

/** Spans of the traced run, kept in memory and written out at exit. A
  * span wraps one call into the program from the benchmark. Jobs and
  * their tasks are attributed to it through a local property the calling
  * thread carries (threads it starts inherit it); finished queries by
  * order, as calls are sequential. */
final class Tracer extends SparkListener {
  val Prop = "graftbench.span"
  private val calls = mutable.ArrayBuffer.empty[CallStats]
  private val byId = new ConcurrentHashMap[String, CallStats]()
  private val stageCall = new ConcurrentHashMap[Int, CallStats]()
  /** Off between traced phases: finished queries are not queued. */
  @volatile var active = false
  /** Files each finished query scanned, until a span claims them. */
  private val scans = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  /** Jobs per streaming batch id. */
  val batchJobs = new ConcurrentHashMap[String, Integer]()

  def span[T](spark: org.apache.spark.sql.SparkSession, name: String)(f: => T): T = {
    val c = new CallStats(name)
    val id = s"$name#${calls.length}"
    calls += c
    byId.put(id, c)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id)
    val fs0 = FsOps.snapshot()
    val t0 = System.nanoTime()
    try f
    finally {
      c.wallNs = System.nanoTime() - t0
      c.fs = FsOps.snapshot().zip(fs0).map { case (a, b) => a - b }
      sc.setLocalProperty(Prop, prev)
      // calls are sequential: once the bus has drained, the queries that
      // finished since the last span are this span's
      org.apache.spark.graftbench.Bus.drain(sc)
      Iterator.continually(scans.poll()).takeWhile(_ != null).foreach(c.scannedFiles += _)
    }
  }

  /** Writes one JSON line per span. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = calls.map { c =>
      val fields = Seq("name" -> s""""${c.name}"""", "wall_s" -> (c.wallNs / 1e9),
        "jobs" -> c.jobs, "exec_cpu_s" -> (c.cpuNs / 1e9),
        "shuffle_bytes" -> c.shuffleBytes, "bytes_written" -> c.fs.last) ++
        FsOps.Kinds.zip(c.fs).map { case (k, n) => s"fs_$k" -> n }
      fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Every call recorded under `name`, after the listener bus drained. */
  def callsOf(name: String): Seq[CallStats] = calls.filter(_.name == name).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    Option(props.map(_.getProperty("streaming.sql.batchId")).orNull).foreach { b =>
      batchJobs.merge(b, 1, (a: Integer, c: Integer) => a + c)
    }
    props.flatMap(p => Option(p.getProperty(Prop))).flatMap(id => Option(byId.get(id)))
      .foreach { c =>
        c.jobs += 1
        e.stageIds.foreach(stageCall.put(_, c))
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageCall.get(e.stageId)).foreach { c =>
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

  /** Files the scans of each finished query read, from the plan's own
    * metrics. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      if (active) scans.add(Plans.collectWithSubqueries(qe.executedPlan) { case p => p }
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Per-kind medians over a set of calls. */
  def callMedians(cs: Seq[CallStats]): Map[String, Double] =
    if (cs.isEmpty) Map.empty
    else {
      def med(f: CallStats => Double) = Stats.median(cs.map(f))
      Map("s" -> med(_.wallNs / 1e9), "jobs" -> med(_.jobs.toDouble),
        "exec_cpu_s" -> med(_.cpuNs / 1e9),
        "shuffle_bytes" -> med(_.shuffleBytes.toDouble),
        "bytes_written" -> med(_.fs(FsOps.Kinds.length).toDouble)) ++
        FsOps.Kinds.zipWithIndex.map { case (k, i) => s"fs_$k" -> med(_.fs(i).toDouble) }
    }

  def fsTotal(c: CallStats): Long = c.fs.take(FsOps.Kinds.length).sum
}
