package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.StorageException

/** The one way a versioned artifact becomes visible: the store
  * manifest, the CDC table pointer and the gate-index compaction marker
  * all publish through here (the reference's temp-file + move dance,
  * vectorstore.py:563-581, without its delete-then-move window).
  *
  * A commit is a write-once file `<dir>/<prefix><n>`:
  *  - '''publish''' writes the content to the dot-prefixed temp file
  *    `<dir>/.<prefix><n>.tmp` and renames it into place — a reader
  *    never sees a half-written commit, and a crash leaves only a temp
  *    file no reader looks at;
  *  - '''read''': the highest published `n` wins, so the previous
  *    commit stays authoritative until the rename lands and there is
  *    no moment with no commit at all;
  *  - '''prune''' deletes commits below a caller-given `n` plus stray
  *    temp files.
  *
  * One writer per `dir`: callers serialize their own publishes.
  *
  * [[sweepVersionDirs]] is the matching retention sweep for the
  * `v<N>` snapshot directories such a commit points at. */
private[graft] object Commits {

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

  /** Publish `content` as commit `n`. A rename that reports failure
    * raises, naming both paths: a silently unpublished commit would
    * leave readers on the previous state with no error anywhere. */
  def publish(fs: FileSystem, dir: Path, prefix: String, n: Long, content: String): Unit = {
    val tmp = new Path(dir, s".$prefix$n.tmp")
    val dst = new Path(dir, s"$prefix$n")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, dst))
      throw new StorageException(s"commit rename failed: $tmp -> $dst")
  }

  /** Delete every commit numbered below `below`, and stray temp files
    * of this prefix (a crash between create and rename). */
  def prune(fs: FileSystem, dir: Path, prefix: String, below: Long): Unit =
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val stale =
        (name.startsWith(prefix) && name.stripPrefix(prefix).toLongOption.exists(_ < below)) ||
          (name.startsWith(s".$prefix") && name.endsWith(".tmp"))
      if (stale) { fs.delete(st.getPath, false); () }
    }

  private val VersionDir = "v(\\d+)".r

  /** Retention sweep of the `v<N>` snapshot dirs under `root`: delete
    * every version below `below` (exclusive — the caller turns its own
    * `keepVersions` into this cutoff). `full` lists `root` once and
    * collects everything below the cutoff, strays a previous process's
    * crash left behind included; otherwise only the [[SweepWindow]]
    * versions just below the cutoff are probed. Each write makes at
    * most one version stale and earlier sweeps took everything older,
    * so steady-state cost is O(window) filesystem calls, not O(total
    * versions); the window's slack absorbs sweeps skipped by crashes.
    * Callers arm `full` on the first write of an instance or stream. */
  def sweepVersionDirs(fs: FileSystem, root: Path, below: Long, full: Boolean): Unit =
    if (full) {
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        st.getPath.getName match {
          case VersionDir(n) if st.isDirectory && n.toLong < below =>
            fs.delete(st.getPath, true); ()
          case _ => ()
        }
      }
    } else (math.max(0L, below - SweepWindow) until below).foreach { v =>
      val d = new Path(root, s"v$v")
      if (fs.exists(d)) { fs.delete(d, true); () }
    }

  /** Versions the steady-state sweep probes below its cutoff. */
  private val SweepWindow = 8L
}
