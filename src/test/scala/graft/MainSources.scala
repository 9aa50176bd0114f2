package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The Scala sources under `src/main/scala`, for specs that pin a
  * property of the code itself rather than of a run. */
object MainSources {

  def files: List[Path] =
    scala.util.Using.resource(Files.walk(Paths.get("src", "main", "scala")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)

  /** `p`'s text with block and line comments removed. */
  def code(p: Path): String = Files.readString(p)
    .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
}
