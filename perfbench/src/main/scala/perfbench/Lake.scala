package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

import graft.lake.TxLog

/** Storage facts read from the transaction logs, outside any timed op. */
object Lake {
  private def snapshot(spark: SparkSession, root: Path) = {
    val r = new HPath(root.toUri)
    TxLog.snapshot(r.getFileSystem(spark.sparkContext.hadoopConfiguration), r)
  }

  /** Roots of the txlog tables under `dir`. */
  def tables(dir: Path): List[Path] = if (!Files.exists(dir)) Nil else {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString == "_txlog").map(_.getParent).toList
    finally s.close()
  }

  /** (bytes under `dir`, bytes of the live data files of its tables). */
  def footprint(spark: SparkSession, dir: Path): (Long, Long) = {
    val all = Files.walk(dir)
    val bytes = try all.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally all.close()
    (bytes, tables(dir).map { t =>
      snapshot(spark, t).adds.map(a =>
        a.bytes.getOrElse(Files.size(t.resolve(a.path)))).sum
    }.sum)
  }

  /** Commit and checkpoint files over every txlog table under `dir`. */
  def counts(dir: Path): Map[String, Long] = {
    val names = tables(dir).flatMap { t =>
      val s = Files.list(t.resolve("_txlog"))
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    Map(
      "commits" -> names.count(_.matches("[0-9]{20}\\.json")).toLong,
      "checkpoints" -> names.count(_.contains(".checkpoint.")).toLong,
      "log_files" -> names.size.toLong)
  }

  def liveFiles(spark: SparkSession, dir: Path): Long =
    tables(dir).map(snapshot(spark, _).adds.size.toLong).sum
}
