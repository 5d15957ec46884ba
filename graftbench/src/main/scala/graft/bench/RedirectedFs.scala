package graft.bench

import java.io.File
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system with one path prefix redirected. The program keeps
  * its derived indexes under a fixed `/tmp/graft_` prefix; the benchmark
  * moves that prefix into its own work directory (system property
  * `graftbench.redirect`) so a run reads and writes only inside the
  * checkout. Every local operation resolves its file through `pathToFile`;
  * statuses keep the path the caller asked for, so listings stay in the
  * caller's namespace.
  */
class RedirectedRawFs extends RawLocalFileSystem {
  override def pathToFile(path: Path): File = RedirectedFs.redirect(super.pathToFile(path))

  override def getFileStatus(f: Path): FileStatus = {
    val st = super.getFileStatus(f)
    if (!RedirectedFs.redirected(super.pathToFile(f))) st
    else new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, makeQualified(f))
  }
}

class RedirectedFs extends LocalFileSystem(new RedirectedRawFs)

object RedirectedFs {
  val From = "/tmp/graft_"
  private lazy val to = Option(System.getProperty("graftbench.redirect"))

  def redirected(f: File): Boolean = to.isDefined && f.getPath.startsWith(From)

  def redirect(f: File): File =
    if (redirected(f)) new File(to.get, "graft_" + f.getPath.substring(From.length)) else f
}
