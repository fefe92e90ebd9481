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

  test("every declared query has exactly one DuckDB oracle") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"queries without an oracle: ${(queries -- oracles).toSeq.sorted}; " +
        s"oracles without a query: ${(oracles -- queries).toSeq.sorted}")
    // the declared set: a change that adds or retires a query updates
    // this count on purpose
    assert(queries.size == 152)
  }
}
