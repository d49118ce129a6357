package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** THE commit step for every on-disk artifact: write into a hidden temp
  * sibling, then publish it with ONE rename, so that existence of the
  * destination ⟹ its content is complete.
  *
  *  - [[publishOnce]] is for write-once outputs (a micro-batch's output
  *    dir, a version snapshot, a ledger marker, an append layer): the
  *    first complete attempt wins and every replay is a no-op;
  *  - [[replaceSmall]] is for a small mutable file (a generation
  *    pointer, a count stamp, a partition count): the new body replaces
  *    the old in one rename, so a reader sees one body or the other,
  *    never a torn one.
  *
  * Both rename through `FileContext`, never `FileSystem.rename`:
  * `FileSystem.rename(tmpDir, existingDir)` returns true after moving
  * the temp dir INSIDE the existing one, which turns a lost race into a
  * silently corrupted artifact, whereas `FileContext.rename` without
  * OVERWRITE refuses an existing target. The temp sibling lives in the
  * destination's directory while it is written, so listings of that
  * directory must skip hidden (`.`-prefixed) names.
  */
object Ledger {

  /** The temp sibling of `dest`: hidden, and free of `=` so Spark's
    * partition discovery never parses it as a partition value. */
  def tmpOf(dest: Path): Path =
    new Path(dest.getParent, ".tmp_" + dest.getName.replace('=', '_'))

  /** Publish `dest` once. Returns false, without calling `write`, when
    * `dest` already exists (a replay of a completed publish). Otherwise
    * clears a torn attempt's debris at the temp path, calls
    * `write(tmp)`, and renames tmp to `dest` without replacing: a
    * rename that fails counts as success only when `dest` now exists
    * (a concurrent attempt won; its content is equivalent by the
    * replay contract) and throws otherwise. */
  def publishOnce(fs: FileSystem, dest: Path)(
      write: Path => Unit): Boolean = {
    if (fs.exists(dest)) return false
    val tmp = tmpOf(dest)
    fs.delete(tmp, true)
    write(tmp)
    try FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(fs.makeQualified(tmp), fs.makeQualified(dest))
    catch {
      case e: java.io.IOException =>
        if (!fs.exists(dest)) throw new IllegalStateException(
          s"publish failed: rename $tmp -> $dest failed and $dest does " +
            "not exist", e)
        fs.delete(tmp, true)
    }
    true
  }

  /** Replace the small file `path` with `body` in one atomic
    * rename-overwrite (never delete-then-rename, whose window would
    * leave readers without the file). */
  def replaceSmall(fs: FileSystem, path: Path, body: String): Unit = {
    val tmp = tmpOf(path)
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    FileContext.getFileContext(fs.getUri, fs.getConf).rename(
      fs.makeQualified(tmp), fs.makeQualified(path), Options.Rename.OVERWRITE)
  }

  /** The trimmed body of a file written by [[replaceSmall]], if any. */
  def readSmall(fs: FileSystem, path: Path): Option[String] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    }
}
