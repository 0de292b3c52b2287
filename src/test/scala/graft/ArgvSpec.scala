package graft

import org.scalatest.funsuite.AnyFunSuite

/** The typed flag readers of [[Argv.Flags]]: each converts one flag and
  * fails naming the flag and the bad value; plus the rule that
  * [[CurateCli]] reads its flags through them instead of parsing by
  * hand. */
class ArgvSpec extends AnyFunSuite {
  private val flags = Argv.Flags(Map("--yes" -> "Y", "--no" -> "N", "--bad" -> "yes",
    "--n" -> "12", "--x" -> "0.25", "--word" -> "abc", "--list" -> " 1, 2 ,3",
    "--kind" -> "wav"))

  private def failure(read: => Any): String =
    intercept[IllegalArgumentException](read).getMessage

  test("yesNo takes exactly Y or N, else its default") {
    assert(flags.yesNo("--yes", default = false) && !flags.yesNo("--no", default = true))
    assert(flags.yesNo("--absent", default = true) && !flags.yesNo("--absent", default = false))
    assert(failure(flags.yesNo("--bad", default = false)) == "--bad must be Y or N, got 'yes'")
  }

  test("numbers convert or fail naming the flag and the value") {
    assert(flags.int("--n") == Some(12) && flags.int("--absent", 7) == 7)
    assert(flags.long("--n", 0L) == 12L && flags.double("--x", 1.0) == 0.25)
    assert(flags.double("--absent").isEmpty)
    for (read <- Seq[() => Any](() => flags.int("--word"), () => flags.long("--word", 1L),
        () => flags.double("--word", 1.0))) {
      val msg = failure(read())
      assert(msg.contains("--word") && msg.contains("'abc'"), msg)
    }
    assert(failure(flags.int("--x")) == "--x must be an integer, got '0.25'")
  }

  test("choice, comma lists and required flags") {
    assert(flags.choice("--kind", "stub", "stub", "imageio", "wav") == "wav")
    assert(flags.choice("--absent", "stub", "stub", "imageio", "wav") == "stub")
    assert(failure(flags.choice("--word", "stub", "stub", "imageio", "wav")) ==
      "--word must be stub, imageio or wav, got 'abc'")
    assert(flags.list("--list").contains(Seq("1", "2", "3")))
    assert(flags.ints("--list").contains(Seq(1, 2, 3)) && flags.ints("--absent").isEmpty)
    assert(failure(flags.doubles("--word")).contains("--word"))
    assert(flags.req("--word") == "abc")
    assert(failure(flags.req("--absent")) == "missing required option --absent")
  }

  test("only Argv.scala spells the Y/N rule; CurateCli converts no argv lookup by hand") {
    assert(SourceScan.filesWhere("src/main", SourceScan.withoutComments)(
      _.contains("must be Y or N")) == Seq("scala/graft/Argv.scala"))

    // an argv lookup, then a chain of member calls or lambdas, ending in a
    // string-to-number conversion; or a name bound to an argv lookup and
    // converted within the next few lines
    val call = """\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"""
    val lookup = s"""argv(?:\\s*\\.\\s*\\w+)?\\s*$call"""
    val toNumber = """\s*\.\s*to(?:Int|Long|Double)\b"""
    val chained = (lookup + s"""(?:\\s*\\.\\s*\\w+\\s*\\(\\s*_|\\s*\\.\\s*\\w+(?:\\s*$call)?)*?""" +
      toNumber).r
    val bound = (s"""\\b(\\w+)\\s*(?:<-|=)\\s*$lookup[\\s\\S]{0,300}?\\b\\1""" + toNumber).r
    def byHand(src: String) =
      chained.findFirstIn(src).nonEmpty || bound.findFirstIn(src).nonEmpty
    val cli = "scala/graft/CurateCli.scala"
    assert(new java.io.File(s"src/main/$cli").isFile)
    assert(!SourceScan.filesWhere("src/main")(byHand).contains(cli))

    def hits(src: String) = byHand(SourceScan.codeOnly(src))
    assert(hits("""argv.getOrElse("--min-chars", "200").toInt"""))
    assert(hits("""argv.getOrElse("--frame-bytes", if (shifted) "64" else "128").toInt"""))
    assert(hits("""argv.get("--dim").map(_.toInt).getOrElse(d)"""))
    assert(hits("""argv.get("--lo").exists(_.toDouble != slo)"""))
    assert(hits("""argv.get("--thresholds").map(_.split(",").toSeq.map(_.trim.toDouble))"""))
    assert(hits("argv(\"--thresholds\").split(\",\").toSeq\n  .map(_.trim.toInt)"))
    assert(hits("for ((flag, stored) <- pairs;\n  stated <- argv.get(flag))\n  if (stated.toInt != stored) fail()"))
    assert(!hits("""argv.int("--min-chars", 200)"""))
    assert(!hits("""argv.int("--nprobe").getOrElse(S.autoProbe(idx.cents.count().toInt))"""))
    assert(!hits("""// argv.getOrElse("--k", "4").toInt"""))
  }
}
