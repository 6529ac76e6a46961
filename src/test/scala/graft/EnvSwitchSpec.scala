package graft

import org.scalatest.funsuite.AnyFunSuite

/** No behaviour of the library may hinge on an environment variable:
  * the only reads allowed are the `SPARK_GRAFT_*` deployment settings
  * of the entry points (scale-factor dir, cores, key filter, output
  * path). A probe or alternate code path behind an env switch is
  * invisible to the specs, the oracle and the benchmark. */
class EnvSwitchSpec extends AnyFunSuite {

  test("src/main reads no environment variable but SPARK_GRAFT_* settings") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.nonEmpty)
    val read = """sys\.env|System\.getenv""".r
    val allowed =
      """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"SPARK_GRAFT_[A-Z0-9_]+"""".r
    val offenders = for {
      f <- sources
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toVector.zipWithIndex finally src.close()
      m <- read.findAllMatchIn(line)
      if allowed.findPrefixOf(line.substring(m.start)).isEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
