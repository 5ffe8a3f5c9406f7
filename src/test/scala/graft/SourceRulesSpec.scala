package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules the compiler cannot enforce. */
class SourceRulesSpec extends AnyFunSuite {

  private def scalaSources(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("overlapped Spark jobs go through graft.core.Overlap only: no hand-rolled futures or pools in src/main") {
    val root = Paths.get("src/main")
    val sources = scalaSources(root)
    assert(sources.exists(_.endsWith("graft/core/Overlap.scala")))
    val forbidden = Seq("ExecutionContext", "Executors.",
      "scala.concurrent.Future", "Await.")
    val hits = for {
      f <- sources if !f.endsWith("graft/core/Overlap.scala")
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- forbidden if line.contains(token)
    } yield s"${root.relativize(f)}:${n + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
