package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The main Scala sources with their text, for the specs that pin what
  * may appear where in them.
  */
object MainSources {
  lazy val all: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  /** Matches of `pattern` per main source file that has any. */
  def matches(pattern: String): Map[String, Int] =
    all.map { case (p, text) => p.toString -> pattern.r.findAllMatchIn(text).size }
      .filter(_._2 > 0).toMap
}
