package graft

import java.nio.file.{FileSystemException, Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LocalFs

/** Publish-once of a directory build: staged in a dot-prefixed
  * sibling, renamed into place, the loser of a race keeps the
  * winner's copy and leaves no staging dir behind. */
class PublishOnceSpec extends AnyFunSuite {

  private def published(p: Path): Boolean = Files.exists(p.resolve("_DONE"))

  private def writeBuild(dir: Path, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("data"), content)
    Files.writeString(dir.resolve("_DONE"), "")
  }

  private def entries(root: Path): Set[String] = LocalFs.list(root)
    .map(_.getFileName.toString).toSet

  test("two builds of one target: the winner's data stays, no staging dir is left") {
    val root = TestSpark.tempDir("publish_once")
    val target = root.resolve("idx")
    var builds = 0
    LocalFs.publishOnce(target, published) { loserStage =>
      builds += 1
      // a concurrent builder publishes first, while this build runs
      LocalFs.publishOnce(target, published) { winnerStage =>
        builds += 1
        assert(winnerStage.getFileName.toString.startsWith("."))
        writeBuild(winnerStage, "winner")
      }
      writeBuild(loserStage, "loser")
    }
    assert(builds == 2)
    assert(Files.readString(target.resolve("data")) == "winner")
    assert(entries(root) == Set("idx"))
    // once published, the build block does not run again
    LocalFs.publishOnce(target, published)(_ => fail("rebuilt a published target"))
  }

  test("a rename that fails for another reason throws; failed builds leave nothing") {
    val root = TestSpark.tempDir("publish_once_fail")
    val target = root.resolve("idx")
    // an unpublished, non-empty directory in the way is not a lost race
    Files.createDirectories(target)
    Files.writeString(target.resolve("junk"), "x")
    assertThrows[FileSystemException](
      LocalFs.publishOnce(target, published)(writeBuild(_, "mine")))
    assert(entries(root) == Set("idx"))
    assert(entries(target) == Set("junk"))
    // a build that throws leaves no staging dir either
    val other = root.resolve("other")
    assertThrows[IllegalStateException](
      LocalFs.publishOnce(other, published) { stage =>
        writeBuild(stage, "half")
        throw new IllegalStateException("build failed")
      })
    assert(entries(root) == Set("idx"))
  }
}
