package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Scala sources of `src/main`, line by line, for static scans. */
object MainSources {
  lazy val lines: Seq[(java.io.File, Vector[String])] = {
    val root = new java.io.File("src/main/scala")
    require(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala")).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try (f, src.getLines().toVector) finally src.close()
    }
  }
}

/** Concurrent driver jobs run only through `graft.exec.Par` (which
  * cancels, waits for and attributes them), every streaming query is
  * drained by `EventStreams.drain`, generations land only through
  * `EventStreams.landGens`, streaming state reaches disk only
  * through `graft.streaming.Store`, and intermediates materialize only
  * through `graft.ops.PlanBarrier`. A second copy of any of these is
  * where a job could leak past its caller, a store lose its replay
  * safety, or a checkpoint be computed twice without a name, again. */
class ParScanSpec extends AnyFunSuite {
  import MainSources.lines

  test("src/main overlaps jobs only through graft.exec.Par") {
    val raw = """scala\.concurrent|\bFuture\b|\bAwait\b|\bExecutionContext\b""".r
    val offenders = for {
      (f, ls) <- lines if !f.getPath.endsWith("graft/exec/Par.scala")
      (line, i) <- ls.zipWithIndex if raw.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("src/main adds no session artifacts") {
    // Sessions.required turns artifact isolation off so that every
    // session shares one executor class loader (and one codegen cache);
    // a jar or file added to one session would then reach all of them
    val artifact = """addArtifact|addJar|addFile|spark\.jars""".r
    val offenders = for {
      (f, ls) <- lines
      (line, i) <- ls.zipWithIndex if artifact.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("one AvailableNow drain and one landing loop") {
    def sites(pattern: String) = for {
      (f, ls) <- lines
      (line, i) <- ls.zipWithIndex if line.contains(pattern)
    } yield (f.getName, i)
    assert(sites("Trigger.AvailableNow()").length == 1,
      sites("Trigger.AvailableNow()"))
    val es = lines.collectFirst {
      case (f, ls) if f.getName == "EventStreams.scala" => ls
    }.get
    val start = es.indexWhere(_.contains("private def landGens("))
    val end = es.indexWhere(_ == "  }", start)
    assert(start >= 0 && end > start)
    for (helper <- Seq("stageGens(", "promoteGen(")) {
      val calls = sites(helper).filterNot { case (_, i) =>
        es(i).contains(s"private def $helper") }
      assert(calls.nonEmpty && calls.forall { case (file, i) =>
          file == "EventStreams.scala" && i > start && i < end },
        s"$helper called outside landGens: $calls")
    }
  }

  test("streaming stores commit only through Store") {
    // an append is not replay-safe under foreachBatch's at-least-once
    // delivery, and a hand-rolled rename is a second commit protocol
    val commit = """mode\("append"\)|renameTo|Files\.move""".r
    val offenders = for {
      (f, ls) <- lines
      if f.getPath.contains("graft/streaming/") && f.getName != "Store.scala"
      (line, i) <- ls.zipWithIndex if commit.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("src/main materializes only through named PlanBarrier sites") {
    val barrier = Set("PlanBarrier.scala", "GraftBarrier.scala")
    val raw = """\.localCheckpoint\(|GraftBarrier\.""".r
    val offenders = for {
      (f, ls) <- lines if !barrier(f.getName)
      (line, i) <- ls.zipWithIndex if raw.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    // every cut/once/shared call names its site with a string literal,
    // and no two call sites share a name
    val call = """\.(cut|once|shared)\(""".r
    val named = """\.(?:cut|once|shared)\("([A-Za-z0-9_.]+)"\)""".r
    val calls = for {
      (f, ls) <- lines if !barrier(f.getName)
      (line, i) <- ls.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("//")
      m <- call.findAllMatchIn(line)
    } yield (s"${f.getName}:${i + 1}",
      named.findPrefixMatchOf(line.substring(m.start)).map(_.group(1)))
    val unnamed = calls.collect { case (site, None) => site }
    assert(unnamed.isEmpty, s"barrier calls without a literal site name: $unnamed")
    val shared = calls.collect { case (site, Some(n)) => n -> site }
      .groupBy(_._1).filter(_._2.size > 1)
    assert(shared.isEmpty, s"site names used at two call sites: $shared")
    assert(calls.size > 100, s"only ${calls.size} barrier calls found")
  }
}
