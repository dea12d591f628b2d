package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** File-tree helpers. Every `Files.walk` stream is closed, so repeated
  * cleanup between passes leaks no directory handles.
  */
object Fs {

  private def walk[T](root: Path)(f: Iterator[Path] => T): T = {
    val s = Files.walk(root)
    try f(s.iterator().asScala) finally s.close()
  }

  def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root))
      walk(root)(_.toSeq.sortBy(_.getNameCount)(Ordering[Int].reverse)
        .foreach(p => Files.deleteIfExists(p)))
  }

  /** Bytes of the regular files under `path`, hidden and `_`-prefixed
    * bookkeeping files included.
    */
  def bytesUnder(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0L
    else walk(root)(_.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum)
  }
}
