package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Static lint over the kernel sources that run on `Iterate.fixpoint`, in
  * the style of [[KnobLintSpec]]. The driver owns materialize-and-observe,
  * the round counter, the cap, the free of the previous state and the
  * regime scope, so a direct `materializeCount(` call in these files is a
  * hand-rolled loop coming back.
  *  - BFS, SSSP, their batched twins, path extraction and Brandes
  *    (Traversal, MultiTraversal, Centrality) have no `while (` loop either.
  *  - The peeling and Luby kernels (Components, Misc) keep two outer
  *    driver-side loops: SCC's extraction rounds and the Hungarian
  *    assignment's array scans.
  *  - Louvain's move phase (Community) keeps one `while (`: the level
  *    loop, an outer cascade whose levels each run on `Iterate.fixpoint`. */
class LoopLintSpec extends AnyFunSuite {

  private def sources(names: String*): Seq[Path] =
    names.map(f => Paths.get("src/main/scala/graft/algos", f))

  /** Lines of `files` containing any of `needles`; the files must exist,
    * so the scan cannot pass by reading nothing. */
  private def hits(files: Seq[Path], needles: String*): Seq[String] = {
    files.foreach(f => assert(Files.isRegularFile(f), s"not found: ${f.toAbsolutePath}"))
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"  ${f.getFileName}:${i + 1} ${line.trim}"
  }

  test("Traversal, MultiTraversal and Centrality hand-roll no loop: no while (, no materializeCount(") {
    val found = hits(sources("Traversal.scala", "MultiTraversal.scala", "Centrality.scala"),
      "while (", "materializeCount(")
    assert(found.isEmpty, "hand-rolled frontier loop:\n" + found.mkString("\n"))
  }

  test("Components and Misc hand-roll no round: no materializeCount(") {
    val found = hits(sources("Components.scala", "Misc.scala"), "materializeCount(")
    assert(found.isEmpty, "hand-rolled peel or Luby round:\n" + found.mkString("\n"))
  }

  test("Community hand-rolls no move round: no materializeCount(, one while ( (the level loop)") {
    val community = sources("Community.scala")
    val rounds = hits(community, "materializeCount(")
    assert(rounds.isEmpty, "hand-rolled Louvain move round:\n" + rounds.mkString("\n"))
    val loops = hits(community, "while (")
    assert(loops.size == 1, "expected only the level loop:\n" + loops.mkString("\n"))
  }
}
