package perfbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system with `/tmp/` mapped under the directory named by
  * the `perfbench.tmpRoot` system property.
  *
  * Several catalog fixtures stage their tables under hard-coded `/tmp/...`
  * paths. The benchmark may only write inside its checkout, so it installs
  * this file system for the `file` scheme (see `core-site.xml`). Callers
  * keep seeing the `/tmp/...` names: statuses carry the path asked for, so
  * a listing of a mapped directory returns mapped children. */
class CheckoutFS extends LocalFileSystem(new CheckoutRawFS)

class CheckoutRawFS extends RawLocalFileSystem {
  private def mapped(f: File): Boolean = f.getPath.startsWith("/tmp/")

  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    val root = System.getProperty("perfbench.tmpRoot")
    if (root != null && mapped(f)) new File(root, f.getPath.substring(5)) else f
  }

  override def getFileStatus(path: Path): FileStatus = {
    val s = super.getFileStatus(path)
    if (mapped(super.pathToFile(path))) s.setPath(makeQualified(path))
    s
  }
}
