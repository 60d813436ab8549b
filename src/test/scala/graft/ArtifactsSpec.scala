package graft

import java.nio.file.{Files, Path, Paths}

import graft.sources.Artifacts

/** The source-fingerprinted artifact-root protocol ([[Artifacts.sourceRoot]])
  * every persisted index and dedup state goes through: build once per
  * source fingerprint, a fresh root (and a pruned old one) when the source
  * changes, the base moved by `spark.graft.<kind>Root`, and no marker after
  * a failed build. Every root lives under a temp dir; each test uses its own
  * kind so the JVM-wide memo of one never answers for another.
  */
class ArtifactsSpec extends SparkSpec {

  private val marker = "_GRAFT_SPEC_v1"

  /** Runs `body` with a source dir `src` and `spark.graft.<kind>Root` at
    * a fresh base dir, both under one temp dir that is removed after. */
  private def withBase[T](kind: String)(body: (Path, Path) => T): T = {
    val top = Files.createTempDirectory(s"graft-artifacts-$kind")
    val base = top.resolve("roots")
    spark.conf.set(s"spark.graft.${kind}Root", base.toString)
    try body(Files.createDirectories(top.resolve("src")), base)
    finally {
      spark.conf.unset(s"spark.graft.${kind}Root")
      org.apache.commons.io.FileUtils.deleteDirectory(top.toFile)
    }
  }

  /** (Re)writes the source table; the helper only stats it, so its bytes
    * need not be parquet. */
  private def writeSource(src: Path, bytes: Int): Unit =
    Files.write(src.resolve("t.parquet"), Array.fill[Byte](bytes)(1))

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  test("a second sourceRoot call in the same JVM does not run build") {
    withBase("specOnce") { (src, _) =>
      writeSource(src, 10)
      var builds = 0
      def ensure() = Artifacts.sourceRoot(spark, src.toString, "t", "specOnce", marker) { root =>
        builds += 1
        Files.createDirectories(Paths.get(root, "data"))
      }
      val first = ensure()
      val second = ensure()
      assert(second === first)
      assert(builds === 1)
      assert(exists(s"$first/$marker"), "the marker is written after the build")
    }
  }

  test("rewriting the source yields a new root, rebuilds, and removes the old sibling") {
    withBase("specRewrite") { (src, base) =>
      writeSource(src, 10)
      var builds = 0
      def ensure() = Artifacts.sourceRoot(spark, src.toString, "t", "specRewrite", marker) { root =>
        builds += 1
        Files.createDirectories(Paths.get(root, "data"))
      }
      val old = ensure()
      writeSource(src, 20)
      val fresh = ensure()
      assert(fresh !== old)
      assert(builds === 2)
      assert(!exists(old), "the stale sibling root is pruned")
      assert(exists(s"$fresh/$marker"))
      assert(base.toFile.list().toSeq === Seq(Paths.get(fresh).getFileName.toString))
    }
  }

  test("spark.graft.<kind>Root moves the base and sub nests under it") {
    withBase("specBase") { (src, base) =>
      writeSource(src, 10)
      val flat = Artifacts.sourceRoot(spark, src.toString, "t", "specBase", marker)(_ => ())
      val nested = Artifacts.sourceRoot(spark, src.toString, "t", "specBase", marker,
        sub = "k8")(_ => ())
      val name = s"${src.getFileName}_10_${Files.getLastModifiedTime(src.resolve("t.parquet")).toMillis}"
      assert(flat === s"$base/$name")
      assert(nested === s"$base/k8/$name")
      assert(exists(s"$flat/$marker") && exists(s"$nested/$marker"))
    }
  }

  test("a build that throws leaves no marker, so the next call rebuilds") {
    withBase("specThrow") { (src, _) =>
      writeSource(src, 10)
      val err = intercept[IllegalStateException] {
        Artifacts.sourceRoot(spark, src.toString, "t", "specThrow", marker) { _ =>
          throw new IllegalStateException("build failed")
        }
      }
      assert(err.getMessage === "build failed")
      var builds = 0
      val root = Artifacts.sourceRoot(spark, src.toString, "t", "specThrow", marker) { _ =>
        builds += 1
      }
      assert(builds === 1)
      assert(exists(s"$root/$marker"))
    }
  }
}
