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

  /** Typed reads over a parsed option map. Each converts its flag where the
    * command reads it and fails with an `IllegalArgumentException` that
    * names the flag and the bad value. */
  final case class Flags(opts: Map[String, String]) {
    def get(flag: String): Option[String] = opts.get(flag)
    def has(flag: String): Boolean = opts.contains(flag)
    def str(flag: String, default: String): String = opts.getOrElse(flag, default)

    def req(flag: String): String = opts.getOrElse(flag,
      throw new IllegalArgumentException(s"missing required option $flag"))

    /** Exactly `Y` or `N`: a mutating default gated on one spelling must
      * not let "n"/"no"/"false" fall through to it. */
    def yesNo(flag: String, default: Boolean): Boolean = opts.get(flag) match {
      case None      => default
      case Some("Y") => true
      case Some("N") => false
      case Some(v)   => throw new IllegalArgumentException(s"$flag must be Y or N, got '$v'")
    }

    def int(flag: String): Option[Int] = opts.get(flag).map(number(flag, "an integer", _.toIntOption))
    def int(flag: String, default: Int): Int = int(flag).getOrElse(default)
    def long(flag: String): Option[Long] = opts.get(flag).map(number(flag, "an integer", _.toLongOption))
    def long(flag: String, default: Long): Long = long(flag).getOrElse(default)
    def double(flag: String): Option[Double] = opts.get(flag).map(number(flag, "a number", _.toDoubleOption))
    def double(flag: String, default: Double): Double = double(flag).getOrElse(default)

    def choice(flag: String, default: String, allowed: String*): String = {
      val v = str(flag, default)
      if (!allowed.contains(v)) throw new IllegalArgumentException(
        s"$flag must be ${allowed.init.mkString(", ")} or ${allowed.last}, got '$v'")
      v
    }

    /** A comma list, each item trimmed. */
    def list(flag: String): Option[Seq[String]] = opts.get(flag).map(_.split(",").toSeq.map(_.trim))
    def ints(flag: String): Option[Seq[Int]] =
      list(flag).map(_.map(number(flag, "a comma list of integers", _.toIntOption)))
    def doubles(flag: String): Option[Seq[Double]] =
      list(flag).map(_.map(number(flag, "a comma list of numbers", _.toDoubleOption)))

    private def number[T](flag: String, what: String, parse: String => Option[T])(v: String): T =
      parse(v).getOrElse(throw new IllegalArgumentException(s"$flag must be $what, got '$v'"))
  }
}
