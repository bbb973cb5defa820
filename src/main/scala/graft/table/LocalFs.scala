package graft.table

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem graft writes through ([[FileIO.withLocalFs]]):
  * Hadoop's checksummed `LocalFileSystem`, whose raw layer sets a file's
  * or directory's mode bits through `java.nio` instead of a `chmod`
  * process. Without the native Hadoop library, `RawLocalFileSystem`
  * forks `chmod` for every file it creates and every directory it makes:
  * a mkdir plus a create took 12-14 ms p50 that way, against 0.3-1.1 ms
  * here (4-core VM, JDK 17). The
  * permission it is handed already has the umask applied, so the modes
  * come out the same. Checksums, `.crc` files, rename and delete are
  * Hadoop's own. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private[table] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: HPath, permission: FsPermission): Unit = {
      val mode = permission.toShort // the octal `chmod` would be given
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      // no POSIX view (a non-POSIX file store), or a sticky bit (01000)
      // that the nio permission set cannot carry: Hadoop's own path
      if (view == null || (mode & 0x200) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission is declared owner-read (0400) first, down to
        // others-execute (0001)
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b))
        view.setPermissions(set)
      }
    }
  }
}
