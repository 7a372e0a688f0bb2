package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every graft session
  * ([[GraftSession.defaults]]): Hadoop's checksummed `LocalFileSystem`,
  * so `.crc` files are still written and verified, over a raw
  * filesystem that sets permissions in-process. Without libhadoop,
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory a write creates (parquet files, committer job and task
  * directories) — 805 forks in one `maintain` benchmark run. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.InProcessChmod)

object GraftLocalFileSystem {
  /** `setPermission` through the JDK's `unix:mode` attribute, one
    * chmod(2) call with the mode stock Hadoop hands to `chmod %04o`:
    * the permission's sticky and owner/group/other bits, and, as GNU
    * chmod does for a 4-digit octal mode, a directory's setuid and
    * setgid bits kept as they are (a setgid shared directory stays
    * setgid). A file store without the `unix` view falls back to
    * Hadoop's own implementation. */
  class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = try Some(Files.getAttribute(file, "unix:mode").asInstanceOf[Int])
        catch { case _: UnsupportedOperationException | _: IllegalArgumentException => None }
      mode match {
        case None => super.setPermission(p, permission)
        case Some(m) =>
          // st_mode: S_IFMT 0170000, S_IFDIR 0040000, S_ISUID|S_ISGID 06000
          val kept = if ((m & 0xF000) == 0x4000) m & 0xC00 else 0
          Files.setAttribute(file, "unix:mode", Int.box(kept | permission.toShort & 0x3FF))
      }
    }
  }
}
