package graft

/** The strict `--key value` argv parse both CLIs share
  * ([[graft.etl.CarrotCli]], [[CurateCli]]): unknown flags, stray
  * positionals and flags without a value ERROR instead of silently
  * re-pairing everything after them (the old sliding(2,2) failure mode).
  * Values are validated only at the KEY position, so non-word dash values
  * (a `--sep` of "--") stay representable bare; flag-SHAPED bare values
  * (`--\w…`) are rejected as probable typo'd options and must use the
  * `--key=value` escape hatch. */
object Argv {

  def parse(args: Array[String], known: Set[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val tok = args(i)
      if (!tok.startsWith("--"))
        throw new IllegalArgumentException(s"unexpected positional argument '$tok'")
      val eq = tok.indexOf('=')
      if (eq >= 0) {
        val k = tok.substring(0, eq)
        if (!known.contains(k))
          throw new IllegalArgumentException(s"unknown option $k")
        out += k -> tok.substring(eq + 1)
        i += 1
      } else {
        if (!known.contains(tok))
          throw new IllegalArgumentException(s"unknown option $tok")
        if (i + 1 >= args.length || known.contains(args(i + 1)))
          throw new IllegalArgumentException(s"option $tok requires a value")
        // a bare next-token shaped like a flag is almost always a typo'd
        // option, not a value ("--person --persn" would silently pass the
        // literal "--persn" as the person id)
        if (args(i + 1).matches("^--\\w.*"))
          throw new IllegalArgumentException(
            s"option $tok got flag-like value '${args(i + 1)}'; " +
              s"use $tok=${args(i + 1)} if that value is intended")
        out += tok -> args(i + 1)
        i += 2
      }
    }
    out.result()
  }
}
