package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Static lint over the frontier-traversal sources, in the style of
  * [[KnobLintSpec]]: BFS, SSSP, their batched twins, path extraction and
  * Brandes all run on `Iterate.fixpoint`, which owns materialize-and-observe,
  * the round counter, the cap, the free of the previous state and the
  * regime scope. A `while (` loop or a direct `materializeCount(` call in
  * these files is a hand-rolled frontier loop coming back. */
class LoopLintSpec extends AnyFunSuite {

  private val files = Seq("Traversal.scala", "MultiTraversal.scala", "Centrality.scala")
    .map(f => Paths.get("src/main/scala/graft/algos", f))

  test("Traversal, MultiTraversal and Centrality hand-roll no loop: no while (, no materializeCount(") {
    // the files exist, so the scan cannot pass by reading nothing
    files.foreach(f => assert(Files.isRegularFile(f), s"not found: ${f.toAbsolutePath}"))
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("while (") || line.contains("materializeCount(")
    } yield s"  ${f.getFileName}:${i + 1} ${line.trim}"
    assert(hits.isEmpty, "hand-rolled frontier loop:\n" + hits.mkString("\n"))
  }
}
