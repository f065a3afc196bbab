package graft

import org.scalatest.funsuite.AnyFunSuite

/** The repository root holds the project, not its measurement record:
  * per-round bench, check, curve, audit, soak and manifest files live
  * under `history/` (where `scripts/end_of_round.py` writes them). */
class RepoLayoutSpec extends AnyFunSuite {
  private val artifact =
    "(BENCH|CORRECTNESS|SF[0-9A-Z]*_CHECK|SCALE_CURVE|SOAK|PLAN_AUDIT|EOR|PERF|VERIFY|OPTIMIZATION)_.*".r

  /** The nearest directory at or above the working directory with a build.sbt. */
  private def repoRoot: java.io.File =
    Iterator.iterate(new java.io.File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new java.io.File(d, "build.sbt").isFile)
      .getOrElse(fail(s"no build.sbt at or above ${sys.props("user.dir")}"))

  test("no per-round artifact sits at the repository root") {
    val stray = repoRoot.listFiles().toSeq.filter(_.isFile).map(_.getName)
      .filter(artifact.matches).sorted
    assert(stray.isEmpty, s"move these under history/: ${stray.mkString(", ")}")
  }
}
