package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem every engine session registers
  * ([[graft.Sessions.LocalFsImpl]]): Hadoop's checksummed
  * `LocalFileSystem` over a raw local filesystem that sets permissions
  * through java.nio's `unix:mode` attribute instead of a `chmod`
  * process.
  *
  * Without `libhadoop` (`NativeIO.isAvailable == false`), the stock
  * `RawLocalFileSystem.setPermission` runs `Shell.execCommand("chmod",
  * …)`, and it is called for every created file, every `.crc` sidecar
  * and every directory `mkdirs` makes. The callers have already applied
  * Hadoop's umask to `permission`, so this sets the same mode, sticky
  * bit included, and starts no process.
  *
  * Without the setting, `file:` resolves to the class the classpath's
  * FileSystem service files register last. With Spark's jars that is
  * Hive's `ProxyLocalFileSystem`: a `LocalFileSystem` whose `rename`
  * returns false when the destination is an existing file, where
  * Hadoop's throws `FileAlreadyExistsException` for a directory
  * source. The registry relies on that false: a writer that wakes
  * after its slot was tombstoned (an empty file at the slot's path)
  * must rebase, not fail. `rename` keeps that rule here.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))
  }
}
