package graft.io

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Local-filesystem helpers for the measurement harnesses and specs (NOT
  * the distributed data path — that goes through Hadoop `FileSystem`, which
  * also covers non-local stores).
  */
object LocalFs {

  /** Recursively delete `p` if it exists. The walk stream is closed before
    * returning — it holds directory handles until then.
    */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
