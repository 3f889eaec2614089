package graft.testlib

import java.nio.file.{Files, Path, Paths}

/** Directory helpers for specs of persisted stores. */
object Dirs {

  /** Every regular file under `dir` with its modification time. */
  def snapshot(dir: String): Map[String, Long] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => p.toString -> p.toFile.lastModified()).toMap
    finally walk.close()
  }

  /** Replace the contents of `to` with a plain file copy of `from` — what
    * another process re-writing a store under the same path leaves. */
  def replaceContents(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    def paths(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.toArray.map(_.asInstanceOf[Path]).toSeq finally walk.close()
    }
    paths(dst).filter(_ != dst).sortBy(-_.getNameCount).foreach(Files.delete)
    paths(src).filter(_ != src).sortBy(_.getNameCount).foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectory(q) else Files.copy(p, q)
    }
  }
}
