package graft.util

import java.io.File

/** Per-run temp state (staged streaming input, persisted-index gate
  * directories): fresh unique paths, and recursive delete. One
  * implementation instead of a copy per call site. */
object TempDirs {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** A fresh unique directory path under java.io.tmpdir (not created —
    * Spark writers create it). */
  def fresh(prefix: String): File =
    new File(sys.props("java.io.tmpdir"),
      prefix + java.util.UUID.randomUUID().toString.replace("-", ""))

  /** Run `body` over one [[fresh]] absolute path per prefix (in order),
    * deleting every one of them when `body` returns or throws. A result
    * that reads from the dirs must be materialized inside `body`. */
  def using[A](prefixes: String*)(body: Seq[String] => A): A = {
    val dirs = prefixes.map(fresh)
    try body(dirs.map(_.getAbsolutePath))
    finally dirs.foreach(deleteRecursively)
  }
}
