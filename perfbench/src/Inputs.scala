package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Inputs {
  /** Writes each table as parquet under `dir`; returns name → (rows,
    * bytes on disk). */
  def write(spark: SparkSession, tables: Seq[Table], dir: Path): Map[String, (Long, Long)] =
    tables.map { t =>
      val p = dir.resolve(t.name)
      t.df(spark, 1).write.parquet(p.toString)
      t.name -> (t.rows.length.toLong, bytesUnder(p))
    }.toMap

  /** Bytes of the regular files under `p`, checksum files included. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** SHA-256 of every generated input table of a workload. */
  def hashes(workload: String, seed: Long): Map[String, String] = {
    val tables = workload match {
      case "panel_pipeline" => PanelPipeline.inputTables(seed)
      case "lakehouse" =>
        TableChurn.inputTables(seed).map(t => t.copy(name = s"table_churn.${t.name}")) ++
          StreamUpsert.inputTables(seed).map(t => t.copy(name = s"stream_upsert.${t.name}"))
      case other => sys.error(s"unknown workload $other")
    }
    tables.map(t => t.name -> t.hash).toMap
  }
}
