package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local files under the `countfs` scheme whose `FileStatus`es count
  * reads of permission, owner and group — the fields a
  * `LocatedFileStatus` copies, and which the raw local FS without the
  * native Hadoop library loads by forking `ls -ld` per file. Register
  * it as `fs.countfs.impl`, then `reset()` and read `counts` around the
  * call under test. */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem.counted
  override def getUri: URI = CountingFileSystem.uri
  override def getScheme: String = CountingFileSystem.scheme
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(counted)
  override def getFileStatus(f: Path): FileStatus = counted(super.getFileStatus(f))
}

object CountingFileSystem {
  val scheme = "countfs"
  val uri: URI = URI.create(s"$scheme:///")
  private val permission, owner, group = new AtomicLong

  def reset(): Unit = Seq(permission, owner, group).foreach(_.set(0))
  /** (getPermission, getOwner, getGroup) calls since the last reset. */
  def counts: (Long, Long, Long) = (permission.get, owner.get, group.get)

  /** A plain copy of `st` (no permission info loaded) that counts. */
  private def counted(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getPath) {
      override def getPermission: FsPermission = { permission.incrementAndGet(); super.getPermission }
      override def getOwner: String = { owner.incrementAndGet(); super.getOwner }
      override def getGroup: String = { group.incrementAndGet(); super.getGroup }
    }
}
