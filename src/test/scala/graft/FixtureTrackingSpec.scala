package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guard against the round-13 defect class: a hand-authored fixture project
  * referenced from `src/` (e.g. `fixtures/mesh_core`) that the
  * catch-all fixtures gitignore silently swallows — green locally, broken on a
  * fresh clone.
  *
  * The spec walks every `fixtures/<root>` literal in `src/` (main + test)
  * and asserts each root is either (a) git-tracked (at least one file under
  * it in `git ls-files`) or (b) on the explicit allowlist of
  * RUNTIME-GENERATED roots (created by marker-guarded `ensure*` helpers at
  * first use, regenerable from testdata, intentionally ignored). Adding a
  * new checked-in fixture without a gitignore exception fails here.
  */
class FixtureTrackingSpec extends AnyFunSuite {

  /** Roots produced at runtime by marker-guarded generators, keyed off
    * testdata — never checked in: the `<kind lowercased>` default dirs of
    * every `Artifacts.sourceRoot` kind, plus `MediaFixtures` (media) and
    * `NpoParquet` (npo). Keep in sync with the kinds passed to
    * `Artifacts.sourceRoot` in src/main.
    */
  private val generatedRoots = Set(
    "partdocs", "evodocs", "ivf", "ivfinc", "ivfkm", "vecdedupstate", "pqinc",
    "dedupstate", "bm25", "bm25inc", "media", "npo")

  private def repoRoot: java.nio.file.Path = {
    val here = java.nio.file.Paths.get("").toAbsolutePath
    Iterator.iterate(here)(_.getParent).takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve(".git")))
      .getOrElse(fail(s"no .git above $here"))
  }

  private def referencedRoots(root: java.nio.file.Path): Set[String] = {
    val srcDir = root.resolve("src")
    val re = java.util.regex.Pattern.compile("fixtures/([A-Za-z0-9_\\-]+)")
    val roots = scala.collection.mutable.Set[String]()
    java.nio.file.Files.walk(srcDir).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .foreach { p =>
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val m = re.matcher(txt)
        while (m.find()) roots += m.group(1)
      }
    roots.toSet
  }

  private def gitTracked(root: java.nio.file.Path, sub: String): Boolean = {
    val pb = new ProcessBuilder("git", "ls-files", "--", s"fixtures/$sub")
    pb.directory(root.toFile)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    proc.waitFor()
    out.trim.nonEmpty
  }

  test("every src-referenced fixtures/<root> is git-tracked or marker-generated") {
    val root = repoRoot
    val refs = referencedRoots(root)
    assert(refs.nonEmpty, "expected at least one fixtures/ reference in src/")
    val untracked = refs.toSeq.sorted.filterNot { r =>
      generatedRoots.contains(r) || gitTracked(root, r)
    }
    assert(untracked.isEmpty,
      s"fixtures referenced from src/ but neither git-tracked nor on the " +
      s"generated-roots allowlist: ${untracked.mkString(", ")} — add a " +
      s"!fixtures/<root> gitignore exception and `git add` it, or register " +
      s"it in FixtureTrackingSpec.generatedRoots if it is marker-generated")
  }

  test("generated-roots allowlist does not shadow checked-in content") {
    // A root that IS tracked must not sit on the generated allowlist —
    // that would let future untracked edits to it go unnoticed.
    val root = repoRoot
    val shadowed = generatedRoots.toSeq.sorted.filter(r => gitTracked(root, r))
    assert(shadowed.isEmpty,
      s"roots on the generated allowlist but git-tracked: ${shadowed.mkString(", ")}")
  }
}
