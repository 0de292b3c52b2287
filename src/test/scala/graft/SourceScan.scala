package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Code-shape rules ("only X may do Y") checked over the repository's
  * Scala sources, run from the repository root as sbt does. */
object SourceScan {

  /** Scala source with comments and string/char literals blanked, so a
    * mention in prose or in a message is not a use. */
  def codeOnly(src: String): String =
    ("(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\\\n])'" +
      "|//[^\\n]*|/\\*.*?\\*/").r.replaceAllIn(src, " ")

  /** The `.scala` files under `root` whose code (see [[codeOnly]]) makes
    * `uses` true, as `/`-separated paths relative to `root`. */
  def filesWhere(root: String)(uses: String => Boolean): Seq[String] = {
    val dir = Paths.get(root)
    require(Files.isDirectory(dir),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(dir).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && uses(codeOnly(Files.readString(p))))
      .map(p => dir.relativize(p).toString.replace('\\', '/'))
      .sorted
  }
}
