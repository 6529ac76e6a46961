package graft

import org.scalatest.funsuite.AnyFunSuite

/** No behaviour of the library may hinge on an environment variable:
  * the only reads allowed are the `SPARK_GRAFT_*` deployment settings
  * of the entry points (scale-factor dir, cores, key filter, output
  * path). A probe or alternate code path behind an env switch is
  * invisible to the specs, the oracle and the benchmark. */
class EnvSwitchSpec extends AnyFunSuite {

  test("src/main reads no environment variable but SPARK_GRAFT_* settings") {
    assert(MainSources.lines.nonEmpty)
    val read = """sys\.env|System\.getenv""".r
    val allowed =
      """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"SPARK_GRAFT_[A-Z0-9_]+"""".r
    val offenders = for {
      (f, lines) <- MainSources.lines
      (line, i) <- lines.zipWithIndex
      m <- read.findAllMatchIn(line)
      if allowed.findPrefixOf(line.substring(m.start)).isEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
