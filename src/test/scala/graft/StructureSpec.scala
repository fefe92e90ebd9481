package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-tree rules that keep one way of doing a thing. */
class StructureSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  test("overlapped driver work goes through Overlap: no hand-rolled pools or unbounded waits") {
    val banned = Seq("newFixedThreadPool", "Duration.Inf", "Await.result",
      "ExecutionContext.from")
    val helper = Paths.get("src/main/scala/graft/Overlap.scala")
    assert(mainSources.contains(helper))
    val offenders = for {
      file <- mainSources if file != helper
      (line, n) <- Files.readAllLines(file).asScala.zipWithIndex
      word <- banned if line.contains(word)
    } yield s"$file:${n + 1}: $word"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
