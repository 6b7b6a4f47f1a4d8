package graft.sources

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** The local-filesystem primitives every stage-and-publish path in
  * `graft.sources` shares: directory listing, recursive delete, the
  * source-data fingerprint that keys derived tables, and publish-once
  * of a directory build. */
private[graft] object LocalFs {

  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) list(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** 16 hex chars of SHA-1 over `dir`, the path + mtime + length of
    * each `<table>.parquet` under it (regenerating a table changes its
    * mtime and length) and a caller-owned `salt` (a build version). A
    * regenerated source is a new key, never a stale hit. */
  def fingerprint(dir: String, tables: Seq[String], salt: String = ""): String = {
    val fps = tables.map { t =>
      val f = Paths.get(dir, s"$t.parquet").toFile
      s"${f.getAbsolutePath}|${f.lastModified}|${f.length}"
    }
    MessageDigest.getInstance("SHA-1")
      .digest(s"$dir|${fps.mkString(";")}|$salt".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Build a directory once and publish it at `target`. Nothing runs
    * when `published(target)` already holds. Otherwise `build` writes
    * into a dot-prefixed sibling of `target`, which is then renamed
    * into place, so a reader never sees a half-built directory. A
    * builder that loses the rename race to a concurrent one keeps the
    * winner's copy; a rename that fails for any other reason throws.
    * Either way, and when `build` throws, the staging dir is deleted. */
  def publishOnce(target: Path, published: Path => Boolean)(build: Path => Unit): Unit =
    if (!published(target)) {
      val stage = target.resolveSibling(
        s".${target.getFileName}.stage-${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        build(stage)
        try Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException if published(target) => () }
      } finally deleteRecursively(stage)
    }
}
