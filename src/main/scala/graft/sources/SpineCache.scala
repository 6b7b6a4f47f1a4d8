package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Disk-backed SPINE TABLES: expensive intermediates that many
  * independent queries rebuild identically (the supplier co-purchase
  * edge dim, the daily-revenue series, the segmentation pair-cost
  * frame) are materialized ONCE as a parquet table and read by every
  * consumer — the lakehouse "materialized intermediate model" pattern
  * the round-9 verdict prescribed for shared spines, extended from
  * per-query `materialize()` (which a fresh session cannot reuse) to
  * a real stored table.
  *
  * Correctness contract:
  *   - the cache key hashes the SOURCE DATA fingerprint (path + size
  *     + mtime of EVERY source table the spine derives from), so
  *     regenerated testdata can never serve a stale spine — a new
  *     fingerprint is simply a new table;
  *   - the key also carries a caller-owned BUILD VERSION (ADVICE r10:
  *     data fingerprints alone cannot see a semantic change to the
  *     builder logic — bump the version when the build changes and the
  *     old spine is simply never read again);
  *   - the build is the SAME DataFrame the consumers previously
  *     inlined; a parquet round-trip of long/decimal/string columns
  *     is exact, so results are bit-identical with or without the
  *     cache (the DuckDB oracle recomputes from scratch either way —
  *     the gate re-proves it);
  *   - publication is [[LocalFs.publishOnce]]: the build writes a
  *     dot-prefixed staging dir that is renamed into place, so
  *     published spines are the only non-dot entries under the cache
  *     root; a concurrent builder loses the rename race and reads
  *     the winner's table, and a rename that fails for any OTHER
  *     reason (permissions, tmpdir device surprise) fails LOUDLY with
  *     the real cause instead of a downstream path-not-found (ADVICE
  *     r10). A failed build leaves nothing behind, never a
  *     half-published spine.
  *
  * At cluster scale the same pattern writes to the object store via
  * ManifestCommit; the tmpdir parquet here is the single-node stand-in.
  *
  * Lifetime contract (optimization-round rule: NO result caching across
  * runs): the cache directory is PER-PROCESS — suffixed with the JVM's
  * pid + start nonce and deleted by a shutdown hook — so every
  * bench/verify INVOCATION rebuilds every spine from the parquet inputs.
  * Within one invocation the spine is the ordinary shared materialized
  * intermediate (built once, inside the first consumer's timed region,
  * then read), exactly like an inline `materialize()`, never a
  * cross-run memo. */
object SpineCache {

  private lazy val cacheRoot: Path = {
    val p = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_spines_${ProcessHandle.current().pid()}_" +
        java.lang.Long.toHexString(System.nanoTime()))
    Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => LocalFs.deleteRecursively(p)))
    p
  }

  /** The spine named `name` over `dir`, built from `sourceTables`
    * (the fingerprint anchors — EVERY table the build reads) at build
    * logic `version`: read-through parquet cache. Re-entrant (a spine
    * build may read another spine). */
  def table(s: SparkSession, dir: String, name: String,
      sourceTables: Seq[String], version: Int = 1)
      (build: => DataFrame): DataFrame =
    synchronized {
      val path = cacheRoot.resolve(
        s"${name}_${LocalFs.fingerprint(dir, sourceTables, s"v$version")}")
      LocalFs.publishOnce(path, p => Files.exists(p.resolve("_SUCCESS"))) {
        stage => build.write.mode("overwrite").parquet(stage.toString)
      }
      s.read.parquet(path.toString)
    }

  /** Single-source convenience overload. */
  def table(s: SparkSession, dir: String, name: String,
      sourceTable: String)(build: => DataFrame): DataFrame =
    table(s, dir, name, Seq(sourceTable))(build)

  /** Drop every spine built so far by THIS process. Bench calls this
    * between its two measurement passes so each pass recomputes every
    * spine from the parquet inputs — pass 2 stays a genuinely cold
    * repeat measurement, never a warm rerun of pass 1's spines. */
  def clear(): Unit = synchronized {
    LocalFs.list(cacheRoot).foreach(LocalFs.deleteRecursively)
  }
}
