package perfbench

import org.apache.spark.sql.SparkSession

import graft.api.{Dp3Http, Dp3Service, IngestStore}
import graft.model.IngestedCatalog
import graft.streaming.Ingest

/** One dp3 store: the `startWithStats` directory layout (data, stat
  * partials, per-field partials, control table, checkpoint) under
  * `root`, served by [[Dp3Service]] with its [[IngestStore]]. */
final class Store(val root: String) {
  val data = s"$root/data"
  val stats = s"$root/stats"
  val fstats = s"$root/fstats"
  val control = s"$root/control"
  val checkpoint = s"$root/checkpoint"

  /** Per-field partials the store maintains: these back statfilter
    * pruning and /statrange's per-field face. */
  val fieldStats: Option[(String, Seq[String], Seq[String])] =
    Some((fstats, Seq("value", "k"), Seq("props")))

  /** Stream the generated parquet input through the ingest pipeline
    * until it has drained. */
  def ingest(spark: SparkSession, inputDir: String): Unit = {
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Msg].schema)
      .parquet(inputDir)
    val q = Ingest.startWithStats(spark, stream, data, stats, checkpoint,
      controlDir = Some(control), fieldStats = fieldStats)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def service: Dp3Service = {
    val cat = new IngestedCatalog(data, stats, control, Some(fstats))
    new Dp3Service(cat, s => cat.messages(s), Some(IngestStore(cat)))
  }

  def importTarget: Dp3Http.ImportTarget =
    Dp3Http.ImportTarget(data, stats, control, fieldStats)

  /** Bytes on disk under the trees a version writes to. */
  def bytesOnDisk: Long =
    Seq(data, stats, fstats, control).map(Files.treeBytes).sum
}

object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try s.iterator().asScala.filter(JFiles.isRegularFile(_)).toList
      finally s.close()
    }
  }

  def treeBytes(dir: String): Long = walk(dir).map(JFiles.size).sum

  /** Parquet files under a tree — what a read lists. */
  def parquetFiles(dir: String): Int =
    walk(dir).count(_.getFileName.toString.endsWith(".parquet"))

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(JFiles.delete)
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = JFiles.walk(src)
    try s.iterator().asScala.foreach { f =>
      val target = dst.resolve(src.relativize(f).toString)
      if (JFiles.isDirectory(f)) JFiles.createDirectories(target)
      else JFiles.copy(f, target)
    } finally s.close()
  }
}
