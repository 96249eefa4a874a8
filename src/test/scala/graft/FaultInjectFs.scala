package graft

import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only Hadoop FileSystem (`faultfs://`): a RawLocalFileSystem
  * that, while armed, fails the CREATE of any `*.manifest` path with a
  * plain IOException — a stand-in for disk-full/permission/transient
  * faults at the snapshot store's exclusive-create commit point. Data
  * staging (parquet part files, DV side files) passes through
  * untouched, so the fault lands exactly where the store's
  * race-vs-failure classification must decide. Registered per test via
  * `conf.set("fs.faultfs.impl", classOf[FaultInjectFs].getName)`.
  */
class FaultInjectFs extends RawLocalFileSystem {
  override def getScheme: String = "faultfs"
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")

  private def maybeThrow(f: Path): Unit =
    if (FaultInjectFs.armed.get() && f.getName.endsWith(".manifest"))
      throw new java.io.IOException(
        s"injected I/O failure (not a commit race): $f")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    maybeThrow(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    maybeThrow(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  // RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permissions
  // LAZILY via `new java.io.File(uri)`, which rejects any scheme other
  // than `file` — return statuses with explicit permissions instead so
  // nothing ever triggers the lazy load under the test scheme.
  private def solid(st: FileStatus): FileStatus = new FileStatus(
    st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
    st.getModificationTime, 0L,
    if (st.isDirectory) FsPermission.getDirDefault
    else FsPermission.getFileDefault,
    "", "", st.getPath)

  override def getFileStatus(f: Path): FileStatus =
    solid(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(solid)
}

object FaultInjectFs {
  /** Armed = manifest creates fail. Local-mode tests share one JVM, so
    * a plain static flag reaches the executor threads too.
    */
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
