package graft.testlib

import java.nio.file.{Files, Path, Paths}

/** Directory helpers for specs of persisted stores. */
object Dirs {

  /** The build directory the store at `dir` has published: `build-<id>`,
    * the id read from the store's `_schema.json` record. */
  def build(dir: String): String = {
    import org.json4s.jackson.JsonMethods.parse
    val rec = parse(new String(Files.readAllBytes(Paths.get(dir, "_schema.json")), "UTF-8"))
    s"$dir/build-${(rec \ "build").values}"
  }

  /** The entries directly under `dir`, hidden (`.`-prefixed) ones left out. */
  def entries(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).fold(Set.empty[String])(_.toSet)
      .filterNot(_.startsWith("."))

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
