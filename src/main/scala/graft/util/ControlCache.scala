package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}

/** Per-JVM cache for CONTROL-PLANE layout tables (an index's `meta`
  * row, an IVF quantizer's centroids, a flat table's parquet schema)
  * keyed on the table directory's file fingerprint — name:length:mtime
  * of every data file, so ANY rewrite (parquet part names are UUIDs;
  * maintenance flips rename whole dirs full of fresh parts) misses the
  * cache and reloads from storage. This turns the per-serve /
  * per-append one-row `spark.read.parquet(...).head()` control reads —
  * each a full Spark job (~50-150 ms of scheduler latency on a busy
  * driver) — into one `listStatus` round trip, without ever caching
  * past a write.
  *
  * Entries are keyed on (kind, fully qualified directory URI): one
  * directory can back several values (a control table's schema and
  * the coverage witness over it), and the same path on two filesystems
  * is two tables.
  *
  * What this is NOT: a result cache. Values cached here are layout
  * constants (bucket counts, quantizer weights, schemas) that the
  * single-writer maintenance contract already freezes between
  * rewrites, or pure functions of the cached files' bytes; every fresh
  * JVM reloads them from the parquet bytes, and a rewrite in THIS JVM
  * invalidates by fingerprint, not by writer cooperation. Query
  * results never pass through here.
  *
  * Consistency bound: the fingerprint is read immediately before use,
  * so a cached value can only be stale if an EXTERNAL process
  * rewrites the control table in place with byte-identical file
  * names, lengths and mtimes — not a state any supported maintenance
  * verb can produce (overwrites emit fresh UUID part names). */
object ControlCache {

  private final case class Key(kind: String, uri: String)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Key, (String, Any)]()

  /** name:len:mtime per file, sorted. */
  private def fingerprintOf(files: Seq[FileStatus],
      name: FileStatus => String): String =
    files.map(s => s"${name(s)}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")

  /** Fingerprint of the non-hidden files directly under `dir`.
    * Missing dir => "". */
  private def fingerprint(fs: FileSystem, dir: Path): String =
    if (!fs.exists(dir)) ""
    else fingerprintOf(fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith(".") && !n.startsWith("_")
    }, _.getPath.getName)

  private def memo[T](key: Key, fp: String)(load: => T): T =
    Option(cache.get(key)) match {
      case Some((oldFp, v)) if oldFp == fp => v.asInstanceOf[T]
      case _ =>
        val v = load
        cache.put(key, (fp, v))
        v
    }

  /** Load-or-reuse: returns the `kind` value cached for `dir` when the
    * directory's file fingerprint matches the cached one, else runs
    * `load` and caches the result under the fresh fingerprint. `load`
    * runs at most once per distinct on-disk state per JVM. */
  def cached[T](fs: FileSystem, dir: Path, kind: String)(load: => T): T =
    memo(Key(kind, fs.makeQualified(dir).toUri.toString),
      fingerprint(fs, dir))(load)

  /** Load-or-reuse for a pure function of `frames` and `salt`: keyed on
    * the files each frame's scan was planned over (read off its file
    * index, so no second listing), valid while those files and `salt`
    * are unchanged. A frame that reads anything but files has no
    * fingerprint, and `load` then runs every time. */
  def cachedOver[T](kind: String, frames: Seq[DataFrame], salt: String)
      (load: => T): T = {
    val indexes = frames.map { df =>
      val leaves = df.queryExecution.analyzed.collectLeaves()
      val idx = leaves.collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location }
        .collect { case i: PartitioningAwareFileIndex => i }
      if (idx.size == leaves.size) Some(idx) else None
    }
    if (indexes.exists(_.isEmpty)) load
    else {
      val all = indexes.flatten.flatten
      val uri = all.flatMap(_.rootPaths).map(_.toUri.toString).mkString("|")
      val fp = all.map(i => fingerprintOf(i.allFiles(), _.getPath.toString))
        .mkString("#") + "#" + salt
      memo(Key(kind, uri), fp)(load)
    }
  }

  /** Test hook: drop everything (specs that rewrite control tables
    * in-place faster than mtime resolution call this between cases). */
  private[graft] def clear(): Unit = cache.clear()
}
