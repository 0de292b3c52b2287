package graft.etl

/** `@carrot/` path substitution (reference `tools/at_path.py:7-15`,
  * `tools/args.py:341-394`): the reference resolves the prefix against its
  * own installed package directory, where it bundles the OMOP DDL and the
  * field-population config; this engine bundles the same files as classpath
  * resources under `carrot/` and resolves the prefix there. The prefix is
  * accepted by the three PathArg options (`--rules-file`, `--omop-ddl-file`,
  * `--omop-config-file`), whose DDL/config defaults are the bundled
  * `@carrot/config/...` — a user needs no checkout of anything on disk.
  *
  * Bundled resources (src/main/resources/carrot/config/): the OHDSI-published
  * OMOP CDM v5.3/v5.4 PostgreSQL DDL and the reference's config.json, shipped
  * verbatim because identical DDL text is the semantic contract the schema
  * parser (OmopSchema) regexes against.
  */
object AtPath {
  val Prefix = "@carrot/"

  /** Windows separators are normalized first, as in the reference. */
  private def posix(path: String): String = path.replace("\\", "/")

  /** Read a user-supplied path as UTF-8: `@carrot/X` loads classpath
    * resource `carrot/X`; anything else is a filesystem path. */
  def readString(path: String): String = {
    val p = posix(path)
    if (p.startsWith(Prefix)) {
      val res = "carrot/" + p.substring(Prefix.length)
      val in = Option(getClass.getClassLoader.getResourceAsStream(res))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"$path: no bundled resource '$res' on the classpath"))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } else {
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try src.mkString
      finally src.close()
    }
  }

  /** Existence check that spans both worlds (used by V3-style "rules file
    * exists" validation before parsing). */
  def exists(path: String): Boolean = {
    val p = posix(path)
    if (p.startsWith(Prefix))
      getClass.getClassLoader.getResource("carrot/" + p.substring(Prefix.length)) != null
    else new java.io.File(p).exists()
  }
}
