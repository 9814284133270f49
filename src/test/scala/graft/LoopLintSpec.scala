package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Static lint over the kernel sources, in the style of [[KnobLintSpec]].
  * Every Spark loop in `algos/` runs on `Iterate.fixpoint`, which owns
  * materialize-and-observe, the round counter, the cap, the free of the
  * previous state and the regime scope, so a direct `materializeCount(`
  * call or a new `while (` loop is a hand-rolled loop coming back. Two
  * kinds of `while (` stay:
  *  - Louvain's level loop (Community): an outer cascade that carries two
  *    frames and the lazy level-1 labels, whose levels each run on
  *    `Iterate.fixpoint`;
  *  - the seven driver-side array scans of the assignment DP and the
  *    Hungarian (Misc), which run no Spark job.
  * The first three tests pin the file groups as each moved; the last scans
  * every file the directory holds, so a new kernel file is covered too. */
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

  test("no file under algos/ hand-rolls a loop: no materializeCount(, only the known while (") {
    val dir = Paths.get("src/main/scala/graft/algos")
    val files = Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.size >= 12, s"listing found ${files.size} kernel files under ${dir.toAbsolutePath}")
    val rounds = hits(files, "materializeCount(")
    assert(rounds.isEmpty, "hand-rolled round:\n" + rounds.mkString("\n"))
    // the level loop, and the assignment DP's and the Hungarian's array scans
    val allowed = Map("Community.scala" -> 1, "Misc.scala" -> 7).withDefaultValue(0)
    files.foreach { f =>
      val loops = hits(Seq(f), "while (")
      val name = f.getFileName.toString
      assert(loops.size == allowed(name),
        s"expected ${allowed(name)} while ( in $name:\n" + loops.mkString("\n"))
    }
  }
}
