package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** The one publish step: a file is written under a hidden temp name in
  * its directory, then renamed into place, so a reader listing the
  * directory or opening the file never sees it half-written. The CDC
  * sync publishes its mirrored copies and its manifest through it, and
  * [[graft.stream.IncrementalView]] its `_latest` pointer.
  *
  * Everything goes through Hadoop's `FileSystem`, so a `file:`, `hdfs:`
  * or `s3a:` path lands where Spark's own reads and writes put it. On
  * the local file system the rename is one POSIX `rename`, which
  * replaces an existing target atomically: the target is never absent.
  * Elsewhere the old copy is deleted before the rename.
  */
object Publish {

  /** Writes `target` through [[tempPath]], then renames it into place.
    * Returns the (length, mtime) `target` has after the rename. Both
    * steps go through [[unchecked]]`(fs)`: the `file:` file system on
    * Spark's classpath (Hive's `ProxyLocalFileSystem`, a checksummed
    * layer) refuses a rename onto an existing file, as the
    * `FileSystem` contract lets it, where the raw layer's POSIX rename
    * replaces the file in one step.
    */
  def moveIntoPlace(fs: FileSystem, target: Path)(write: Path => Unit)
  : (Long, Long) = {
    val raw = unchecked(fs)
    val tmp = tempPath(target)
    try {
      write(tmp)
      // a published file has no checksum file, so drop the one an older
      // copy left first: meanwhile a reader reads the old copy unverified
      fs match {
        case c: ChecksumFileSystem => raw.delete(c.getChecksumFile(target), false)
        case _ =>
      }
      // where a rename onto an existing file fails (HDFS), drop the old
      // copy and retry once
      if (!raw.rename(tmp, target) &&
          !(raw.delete(target, false) && raw.rename(tmp, target)))
        throw new java.io.IOException(s"cannot rename $tmp to $target")
    } finally raw.delete(tmp, false)
    val st = raw.getFileStatus(target)
    (st.getLen, st.getModificationTime)
  }

  /** [[moveIntoPlace]] for a small text file: `text` as UTF-8. */
  def writeString(fs: FileSystem, target: Path, text: String): (Long, Long) =
    moveIntoPlace(fs, target) { tmp =>
      val out = unchecked(fs).create(tmp, true)
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }

  /** The whole of a small text file as UTF-8. */
  def readString(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** `fs` without client-side checksum files. Published files are
    * written through it: a `.crc` file beside a mirrored file fails
    * every later read of that file once it is edited out of band, and
    * the sync must read such a file to see the edit.
    */
  def unchecked(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** The hidden temp name `target` is written under before its rename:
    * unique per call, so two writers never share one.
    */
  private[graft] def tempPath(target: Path): Path =
    new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.graft_tmp")
}
