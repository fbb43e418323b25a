package graftbench

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system for the streaming checkpoint, without permission changes.
  * Without Hadoop's native library, `RawLocalFileSystem` sets the permission of every file
  * it creates by running `chmod` in a child process; a micro-batch creates a dozen
  * checkpoint files, and those process launches then dominate it. A checkpoint on a
  * cluster file system pays no such cost, so the benchmark leaves permissions alone. */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}
