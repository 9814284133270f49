package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Static lint over the production sources for environment knobs. Every
  * `GRAFT_*` variable the library reads is a second code path a reviewer
  * has to reason about, and an off-by-default A/B knob that no test turns
  * on is dead alternative code. Two stay on purpose:
  *   - `GRAFT_KEEP_AQE`, the operational escape hatch that keeps AQE on
  *     inside the scoped loops (`prims.Aqe`);
  *   - `GRAFT_ALL_JOBS`, a job dump in the `tools.RunOne` diagnostic main.
  *
  * The lint flags every `"GRAFT_…"` string literal under `src/main/scala`,
  * not only the ones written inline in a `sys.env` call, so a name bound
  * to a val first is caught too. `SPARK_GRAFT_*` names are deployment
  * settings (cores, data paths), not code-path toggles, and are excluded:
  * the literal must start with `GRAFT_`. A new knob fails this suite
  * instead of drifting in. */
class KnobLintSpec extends AnyFunSuite {

  private val allowed = Set("GRAFT_KEEP_AQE", "GRAFT_ALL_JOBS")
  private val knobLiteral = "\"(GRAFT_[A-Za-z0-9_]*)".r

  /** (file, line number, knob) for every knob literal in the sources. */
  private def knobReads(root: Path): Seq[(String, Int, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- knobLiteral.findAllMatchIn(line)
    } yield (root.relativize(f).toString, i + 1, m.group(1))
  }

  test("src/main/scala reads no GRAFT_* variable besides GRAFT_KEEP_AQE and GRAFT_ALL_JOBS") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"sources not found under ${root.toAbsolutePath}")
    val reads = knobReads(root)
    val stray = reads.filterNot(r => allowed(r._3))
    assert(stray.isEmpty, "GRAFT_* knobs outside the allowlist:\n" +
      stray.map { case (f, n, k) => s"  $f:$n $k" }.mkString("\n"))
    // the allowed knobs are found, so the scan is reading the real sources
    assert(reads.map(_._3).toSet == allowed, reads)
  }
}
