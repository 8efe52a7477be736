package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem without a forked `chmod` per created file.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", …)`, and Hadoop sets a permission on every
  * file and directory it creates: an output committer's directories, each
  * part file and its `.crc`, every `FileSystem.create`/`mkdirs`. A process
  * fork per file is most of the fixed cost of a small local write. This
  * [[LocalFileSystem]] (checksums and `.crc` files unchanged) wraps a raw
  * file system whose `setPermission` is one `Files.setPosixFilePermissions`
  * call. Registered for `file:` by [[GraftSession]] (`fs.file.impl`).
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {

  /** `chmod` semantics for modes within `0777` on files whose mode has no
    * setuid/setgid/sticky bit (`chmod 0755` keeps a directory's setgid
    * bit; NIO would clear it). Anything else — a sticky bit asked for, such
    * a bit already set, a store without POSIX attributes — takes Hadoop's
    * own path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      val plain = (mode & ~0x1ff) == 0 && (try { // within 0777, and no 07000 bit set
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
      } catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
        case _: UnsupportedOperationException | _: IllegalArgumentException => false
      })
      if (!plain) super.setPermission(p, permission)
      else {
        // from the mode bits: `permission` may be an FsCreateModes, whose
        // toString is not the `rwxr-xr-x` form
        val rwx = "rwxrwxrwx".zipWithIndex.map { case (c, i) => if ((mode >> (8 - i) & 1) == 1) c else '-' }
        Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(rwx.mkString))
      }
    }
  }
}
