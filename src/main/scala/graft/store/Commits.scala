package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.StorageException

/** The one publish-and-sweep rule of every versioned artifact: the
  * store manifest, the CDC table pointer and the gate-index compaction
  * marker all publish and retain through here (the reference's
  * temp-file + move dance, vectorstore.py:563-581, without its
  * delete-then-move window).
  *
  * A commit is a write-once file `<dir>/<prefix><n>`:
  *  - '''publish''' writes the content to the dot-prefixed temp file
  *    `<dir>/.<prefix><n>.tmp` and renames it into place unless commit
  *    `n` exists — a reader never sees a half-written commit, and a
  *    crash leaves only a temp file no reader looks at. It then keeps
  *    the newest two commits: a reader that listed the commits just
  *    before the publish can still open the one it picked;
  *  - '''read''': the highest published `n` wins, so the previous
  *    commit stays authoritative until the rename lands and there is
  *    no moment with no commit at all.
  *
  * '''Retention''' is the Delta Lake log's rule (Armbrust et al., VLDB
  * 2020) at directory granularity: what the kept commits name is live,
  * everything else is garbage. [[sweep]] is the only code that lists a
  * directory to delete from it; each artifact dooms the entries its
  * kept commits do not name, right after its publish:
  *  - the store: `v<N>` dirs below `live − keepVersions + 1`, so
  *    `keepVersions` versions stay, the live one included;
  *  - the CDC table: `v<N>` dirs below `live − keepVersions`, so
  *    `keepVersions` versions stay behind the live one;
  *  - the gate index: merged `batch=<j>` dirs at or below the new mark,
  *    `v=`/`l0=` blobs neither of the two kept markers names, and drop
  *    scratch of earlier batches.
  * A crash between a write and its publish, or between a publish and
  * its sweep, leaves only entries no kept commit names; every sweep
  * lists its whole directory, so the next write collects them however
  * old they are.
  *
  * '''Put-if-absent:''' publish refuses a commit number that exists
  * before it renames, because a `FileSystem.rename` onto an existing
  * file replaces it on some file systems (`RawLocalFileSystem`). Of two
  * writers that publish the same `n`, the second raises, and the first
  * commit's content stands (`CommitsSpec` pins it on the default local
  * file system and on `RawLocalFileSystem`). Where the rename itself
  * refuses an existing destination (HDFS, Hadoop's checksummed local
  * file system) that holds for two publishes that race; where it
  * replaces, two publishes racing between the check and the rename can
  * both succeed. (`FileContext.rename` without `OVERWRITE` checks
  * before it renames too on the local file systems, and costs a
  * `readlink` process per status it takes there.)
  *
  * '''One writer per `dir'''': the store detects a second writer before
  * it writes (`DocumentStore.exclusive`); the CDC pointer is
  * single-writer per table (one stream per table, its batches
  * serialized by the stream); the gate index takes one compaction at a
  * time. */
private[graft] object Commits {

  /** The file system holding `path`, under the session's Hadoop conf. */
  def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Published commit numbers under `dir` (unordered; empty when the
    * dir does not exist). Temp files and foreign names are ignored. */
  def list(fs: FileSystem, dir: Path, prefix: String): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption else None
    }

  /** The highest published commit number and its content. */
  def latest(fs: FileSystem, dir: Path, prefix: String): Option[(Long, String)] =
    list(fs, dir, prefix).maxOption.map { n =>
      val in = fs.open(new Path(dir, s"$prefix$n"))
      try n -> new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8)
      finally in.close()
    }

  /** Publish `content` as commit `n`, then keep the newest two commits.
    * An existing commit `n`, or a rename that reports failure, raises,
    * naming both paths: a silently unpublished commit would leave
    * readers on the previous state with no error anywhere. */
  def publish(fs: FileSystem, dir: Path, prefix: String, n: Long, content: String): Unit = {
    val tmp = new Path(dir, s".$prefix$n.tmp")
    val dst = new Path(dir, s"$prefix$n")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    if (fs.exists(dst) || !fs.rename(tmp, dst))
      throw new StorageException(s"commit rename failed: $tmp -> $dst")
    prune(fs, dir, prefix, below = n - 1)
  }

  /** Delete every commit numbered below `below`, and stray temp files
    * of this prefix (a crash between create and rename). */
  def prune(fs: FileSystem, dir: Path, prefix: String, below: Long): Unit =
    sweep(fs, dir)(name =>
      (name.startsWith(prefix) && name.stripPrefix(prefix).toLongOption.exists(_ < below)) ||
        (name.startsWith(s".$prefix") && name.endsWith(".tmp")))

  /** List `dir` once and delete, recursively, each entry whose name
    * `doomed` accepts. A missing `dir` has nothing to delete. */
  def sweep(fs: FileSystem, dir: Path)(doomed: String => Boolean): Unit =
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      if (doomed(st.getPath.getName)) { fs.delete(st.getPath, true); () }
    }

  private val VersionDir = "v(\\d+)".r

  /** Dooms the `v<N>` snapshot dirs numbered below `cutoff`. */
  def versionsBelow(cutoff: Long): String => Boolean = {
    case VersionDir(n) => n.toLongOption.exists(_ < cutoff)
    case _ => false
  }
}
