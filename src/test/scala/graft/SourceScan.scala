package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Code-shape rules ("only X may do Y") checked over the repository's
  * Scala sources, run from the repository root as sbt does. */
object SourceScan {

  private val Lexemes =
    ("(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\\\n])'" +
      "|//[^\\n]*|/\\*.*?\\*/").r

  /** Scala source with comments and string/char literals blanked, so a
    * mention in prose or in a message is not a use. */
  def codeOnly(src: String): String = Lexemes.replaceAllIn(src, " ")

  /** Scala source with only the comments blanked: literals stay, for rules
    * about the paths and column names code spells out. */
  def withoutComments(src: String): String =
    Lexemes.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) " "
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  /** The `.scala` files under `root` whose source, as `view` shows it
    * (default [[codeOnly]]), makes `uses` true, as `/`-separated paths
    * relative to `root`. */
  def filesWhere(root: String, view: String => String = codeOnly)
                (uses: String => Boolean): Seq[String] = {
    val dir = Paths.get(root)
    require(Files.isDirectory(dir),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(dir).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && uses(view(Files.readString(p))))
      .map(p => dir.relativize(p).toString.replace('\\', '/'))
      .sorted
  }
}
