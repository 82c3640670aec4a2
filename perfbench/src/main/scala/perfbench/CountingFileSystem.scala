package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop file system, counting the files the engine creates
  * and the manifests it publishes. The traced run installs it as
  * `fs.file.impl`, so every store write (data files, manifests, epoch
  * stamps, Spark's own committers) passes through it; behaviour is the
  * stock `LocalFileSystem`'s. */
class CountingFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFileSystem.filesCreated.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    // both store layouts publish a commit by renaming a temp file to
    // `manifest-v<n>` / `_manifest-v<n>`
    if (ok && dst.getName.contains("manifest-v"))
      CountingFileSystem.manifestCommits.incrementAndGet()
    ok
  }
}

object CountingFileSystem {
  val filesCreated = new AtomicLong
  val manifestCommits = new AtomicLong

  /** Bytes written through every Hadoop file system of the JVM,
    * checksum files included. */
  def bytesWritten(): Long = {
    var n = 0L
    org.apache.hadoop.fs.FileSystem.getAllStatistics.forEach(s =>
      n += s.getBytesWritten)
    n
  }
}
