package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`.crc` files and all), whose
  * raw layer sets a permission in-process. Without the native Hadoop
  * library, `RawLocalFileSystem.setPermission` forks a `chmod` for every
  * file, `.crc` file and directory it creates: three processes per
  * landed parquet file. This sets the same mode bits (`toShort`, as
  * stock does) with one `java.nio` call: one syscall, as where the
  * native library is loaded. It defers to stock for a sticky bit
  * (which `java.nio` cannot set) and on a file store without POSIX
  * attributes.
  * [[graft.plans.GraftExtensions.ensureRegistered]] binds it as
  * `fs.file.impl`. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessLocalFileSystem.Raw) {

  /** Never replaces an existing file, as HDFS does and as Hive's
    * `ProxyLocalFileSystem` does: with Spark's bundled jars, that is the
    * `file:` FileSystem a session gets when nothing binds one. */
  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

object ForklessLocalFileSystem {

  private final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // enum order OWNER_READ .. OTHERS_EXECUTE is mode bit 8 down to 0
        PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
          if ((mode & (1 << (8 - i))) != 0) bits.add(bit)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
