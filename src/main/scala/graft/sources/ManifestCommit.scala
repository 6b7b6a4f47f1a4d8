package graft.sources
import graft.Materialize.MatOps

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** Manifest-committed parquet dataset — the object-store-safe commit
  * protocol that a stage-and-swap directory rename cannot give (rename
  * is atomic on POSIX, neither atomic nor cheap on object stores). This is the Delta/Iceberg commit idea reduced to its
  * kernel, with no table-format jars:
  *
  *  - data files only ever ACCUMULATE under `path/data-<gen>-<nonce>/`;
  *    nothing is renamed or deleted on the write path;
  *  - a commit is ONE small file `path/_manifest-<gen>` listing the
  *    committed part files; readers resolve the highest generation and
  *    read exactly its files;
  *  - a crash after the data write but before the manifest write leaves
  *    an orphan data directory no reader ever sees — the previous
  *    generation stays the published state;
  *  - concurrent writers race on the manifest name: publication is an
  *    atomic hard-link onto `_manifest-<gen>` which fails if the
  *    generation is taken (rename would silently replace it), and the
  *    loser re-publishes the same data files under the next generation
  *    (on an object store, a conditional/if-none-match put plays the
  *    same role). Note the loser's manifest does NOT contain the
  *    winner's rows — last-writer-wins at dataset granularity, exactly
  *    the semantics of overwrite/upsert here.
  *
  * Every write path is the same two steps: [[stage]] the data files of
  * the next generation, then [[publish]] the manifest naming them. The
  * writers differ only in which files the manifest lists besides the
  * staged ones: none (full rewrites), all of the previous generation's
  * (appends) or its untouched ones ([[deleteWhere]] and [[upsert]],
  * through one copy-on-write kernel).
  *
  * Orphans and superseded generations are reclaimed by [[vacuum]], which
  * must only run once no reader still holds an older manifest.
  *
  * [[writeVersionedWithStats]] additionally publishes per-file zone maps
  * (min/max per column) in a `_stats-<gen>` sidecar; [[readBetween]]
  * uses them to open only the files a range predicate can touch — the
  * data-skipping half of the table-format story (see its scaladoc for
  * the crash/fallback contract).
  */
object ManifestCommit {

  private val ManifestPrefix = "_manifest-"
  private val StatsPrefix = "_stats-"
  private val BloomPrefix = "_bloom-"
  private val TxnPrefix = "#txn="
  private val SchemaPrefix = "#schema="

  /** A writer lost an optimistic-concurrency race: another commit
    * claimed the generation this transaction was based on. The loser's
    * staged data dir is an invisible orphan ([[vacuum]] reclaims it);
    * re-read the table and retry the whole transaction. */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  private def manifestGen(p: Path): Long =
    p.getFileName.toString.stripPrefix(ManifestPrefix).toLong

  /** `_manifest-<gen>`, `_stats-<gen>` or `_bloom-<gen>` under `dir`. */
  private def genFile(dir: Path, prefix: String, gen: Long): Path =
    dir.resolve(f"$prefix$gen%010d")

  /** Staging name of a metadata file before its atomic publish:
    * `.manifest-tmp-`, `.stats-tmp-`, `.bloom-tmp-` (+ a nonce). */
  private def tmpPrefix(prefix: String): String = "." + prefix.drop(1) + "tmp-"

  private def nonce(): String = java.util.UUID.randomUUID().toString.take(8)

  /** One zone-map row: a file's min/max for one column (None = the
    * column is all-null in that file). Values are the column's Spark
    * string cast — numeric tags parse back exactly (shortest-decimal
    * round-trips). Non-numeric, non-string tags (date/timestamp/...)
    * are stored but never trusted for pruning: the caller's bound
    * formatting need not match Spark's cast (see tryCmp). */
  final case class ZoneStat(file: String, column: String, typeTag: String,
      min: Option[String], max: Option[String])

  /** Every committed manifest under `dir`, oldest generation first. */
  private def manifests(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else LocalFs.list(dir)
      .filter(_.getFileName.toString.startsWith(ManifestPrefix))
      .sortBy(manifestGen)

  /** A manifest's lines: part files plus "#"-prefixed metadata markers. */
  private def linesOf(manifest: Path): Seq[String] =
    Files.readAllLines(manifest).asScala.toSeq.filter(_.nonEmpty)

  /** Latest manifest's RAW lines (files + metadata markers), one read
    * — the ONE manifest reader every consult derives from (one
    * LIST+GET per consult, not two). */
  private def latestRaw(path: String): Option[(Long, Seq[String])] =
    manifests(Paths.get(path)).lastOption.map(m => manifestGen(m) -> linesOf(m))

  /** Highest committed generation and its dataset-relative file list. */
  def latest(path: String): Option[(Long, Seq[String])] =
    latestRaw(path).map { case (gen, lines) => gen -> filesOf(lines) }

  private def latestOrFail(path: String): (Long, Seq[String]) =
    latest(path).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path"))

  /** Read the latest committed generation — and ONLY its files: orphan
    * data from crashed writers and superseded generations are invisible
    * even though they share the directory. */
  def read(spark: SparkSession, path: String): DataFrame =
    readAt(spark, path, latestOrFail(path)._1)

  /** Time travel: read a SPECIFIC committed generation (valid until a
    * vacuum reclaims it — the same contract as table-format history).
    * Partition columns written by [[writeVersioned]]'s `partitionBy`
    * come back via the per-generation basePath, pruning included.
    *
    * A manifest carrying a `#schema=` marker (appends, schema-evolved
    * tables) reads with that COMMITTED schema instead of footer
    * inference — files written before an added column fill it with
    * nulls, no mergeSchema footer sweep needed, and a marker-only
    * generation (a streaming table whose only batches so far were
    * empty) reads as an empty DataFrame of the committed schema
    * rather than throwing at a polling reader. */
  def readAt(spark: SparkSession, path: String, gen: Long): DataFrame = {
    val manifest = genFile(Paths.get(path), ManifestPrefix, gen)
    require(Files.exists(manifest), s"no manifest for generation $gen under $path")
    val lines = linesOf(manifest)
    val files = filesOf(lines)
    val schema = schemaOf(lines)
    if (files.isEmpty) schema match {
      case Some(st) => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), st)
      case None => throw new IllegalStateException(
        s"manifest $manifest lists no files and carries no schema")
    }
    else readFiles(spark, path, files, schema)
  }

  /** Read a manifest's (sub)set of dataset-relative files as ONE scan.
    * A manifest may reference files from several generations' data
    * dirs (appends, and [[deleteWhere]]/[[upsert]] republishing
    * untouched files in place). Unpartitioned, or from one data dir,
    * that is a plain read with the DATASET ROOT as basePath. Hive-style
    * `k=v` subdirs under several data dirs defeat Spark's partition
    * discovery, though: it takes each `data-<gen>-<nonce>` level for a
    * separate table root and refuses the read. Then each data dir's
    * partitions are discovered on their own and stated together as
    * the partition spec of one scan over exactly `files` — partition
    * columns, pruning and `_metadata` intact. */
  private def readFiles(spark: SparkSession, path: String,
      files: Seq[String], schema: Option[StructType] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      InMemoryFileIndex, LogicalRelation, PartitionSpec, PartitioningAwareFileIndex}
    val root = Paths.get(path)
    def scan(base: Path, fs: Seq[String]): DataFrame = {
      val r0 = spark.read.option("basePath", base.toString)
      schema.fold(r0)(r0.schema).parquet(fs.map(f => root.resolve(f).toString): _*)
    }
    val byDataDir = files.groupBy(_.takeWhile(_ != '/'))
    if (byDataDir.size <= 1 || !files.exists(_.count(_ == '/') > 1))
      return scan(root, files)
    val rels = byDataDir.toSeq.map { case (d, fs) =>
      scan(root.resolve(d), fs).queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
      }.get
    }
    val index = new InMemoryFileIndex(spark, rels.flatMap(_.location.rootPaths),
      Map.empty, None, userSpecifiedPartitionSpec = Some(PartitionSpec(
        rels.head.partitionSchema, rels.flatMap(_.location
          .asInstanceOf[PartitioningAwareFileIndex].partitionSpec().partitions))))
    spark.baseRelationToDataFrame(rels.head.copy(location = index)(spark))
  }

  /** Recursively list the part files under a data dir (partitioned
    * writes nest them in k=v subdirs). */
  private def partFilesUnder(p: Path): Seq[Path] = LocalFs.list(p).flatMap { c =>
    if (Files.isDirectory(c)) partFilesUnder(c)
    else if (c.getFileName.toString.matches("part-.*\\.parquet")) Seq(c)
    else Seq.empty
  }

  /** The dataset-relative name of a `_metadata.file_path` URI. */
  private def relTo(path: String): String => String = {
    val dirAbs = Paths.get(path).toAbsolutePath.normalize.toString
    uri => {
      val p = if (uri.startsWith("file:")) java.net.URI.create(uri).getPath else uri
      p.stripPrefix(dirAbs).stripPrefix("/")
    }
  }

  /** The ONE staging kernel: write `frame` (Hive-style subdirs per
    * `partitionBy`, so readers get partition pruning via the basePath
    * in [[readAt]]) into a fresh `data-<gen>-<nonce>/` for the
    * generation after `parentGen`. Returns that generation and the
    * dataset-relative part files the write produced; nothing is
    * visible to readers until a [[publish]] lists them. */
  private def stage(frame: DataFrame, path: String, parentGen: Long,
      partitionBy: Seq[String]): (Long, Seq[String]) = {
    val dir = Paths.get(path)
    val gen = parentGen + 1
    val data = dir.resolve(s"data-$gen-${nonce()}")
    val w = frame.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(data.toString)
    gen -> partFilesUnder(data).map(p => dir.relativize(p).toString).sorted
  }

  /** Publish `lines` (files + markers) as the manifest of `firstGen`:
    * stage the content once, then HARD LINK it onto the generation
    * name. link(2) is atomic with the full content visible AND fails
    * with EEXIST if a concurrent writer claimed the generation —
    * unlike rename, which on POSIX silently REPLACES an existing
    * target (ATOMIC_MOVE onto a taken generation would clobber the
    * winner's manifest). The loser retries one generation higher, or
    * with `retryOnConflict = false` fails with
    * [[ConcurrentWriteException]]. An object store plays the same
    * move with a conditional/if-none-match put. */
  private def publish(path: String, lines: Seq[String], firstGen: Long,
      retryOnConflict: Boolean = true): Long = {
    val dir = Paths.get(path)
    val tmp = dir.resolve(tmpPrefix(ManifestPrefix) + nonce())
    Files.write(tmp, lines.asJava)
    var gen = firstGen
    var committed = -1L
    try {
      while (committed < 0) {
        try {
          Files.createLink(genFile(dir, ManifestPrefix, gen), tmp)
          committed = gen
        } catch {
          case _: FileAlreadyExistsException if retryOnConflict => gen += 1
          case _: FileAlreadyExistsException =>
            throw new ConcurrentWriteException(
              s"generation $gen was claimed by a concurrent writer under " +
                s"$dir — this transaction's staged files are an orphan; " +
                "re-read and retry")
        }
      }
    } finally Files.deleteIfExists(tmp)
    committed
  }

  /** Publish the `_stats-`/`_bloom-` sidecar of committed generation
    * `gen`: temp-write, then atomic move. The generation name is
    * already uniquely claimed by its manifest link, so the move cannot
    * race another writer. */
  private def writeSidecar(path: String, prefix: String, gen: Long,
      lines: Seq[String]): Long = {
    val dir = Paths.get(path)
    val tmp = dir.resolve(tmpPrefix(prefix) + nonce())
    Files.write(tmp, lines.asJava)
    Files.move(tmp, genFile(dir, prefix, gen), StandardCopyOption.ATOMIC_MOVE)
    gen
  }

  /** Write `df` as a new generation and publish it. Returns the committed
    * generation number. The data write happens BEFORE any metadata
    * becomes visible; the publish is a single atomic manifest link.
    * `partitionBy` lands Hive-style subdirs inside the generation's data
    * dir (manifest entries carry the relative subpaths), so readers get
    * partition pruning via the basePath in [[readAt]]. */
  def writeVersioned(df: DataFrame, path: String,
      partitionBy: Seq[String] = Seq.empty): Long =
    stageAndPublish(df, path, partitionBy, () => ())

  /** Optimistic-concurrency write — the Delta conflict-detection
    * behavior [[writeVersioned]] deliberately lacks (there, a loser
    * re-publishes one generation higher: last-writer-wins). Here the
    * transaction is pinned to the parent generation it was BASED on:
    * commit happens exactly at parent+1, and if another writer claimed
    * that generation first — before the data write (stale
    * `expectedParentGen`, detected cheaply up front) or during it (the
    * publish link hits EEXIST) — the loser fails LOUDLY with
    * [[ConcurrentWriteException]] instead of silently clobbering the
    * winner's view. The loser's staged files stay an invisible orphan
    * for [[vacuum]]; correct recovery is re-read + re-derive + retry.
    *
    * `expectedParentGen = None` bases the transaction on the latest
    * generation at entry (read-modify-write callers that derived `df`
    * from an earlier [[read]] should pass that read's generation). 0
    * means "I expect to CREATE this table". */
  def writeVersionedExclusive(df: DataFrame, path: String,
      expectedParentGen: Option[Long] = None,
      partitionBy: Seq[String] = Seq.empty): Long = {
    val current = latest(path).map(_._1).getOrElse(0L)
    expectedParentGen.filter(_ != current).foreach { e =>
      throw new ConcurrentWriteException(
        s"stale base generation: transaction based on $e but table is " +
          s"at $current under $path — re-read and retry")
    }
    stageAndPublish(df, path, partitionBy, () => (),
      exclusiveParent = Some(expectedParentGen.getOrElse(current)))
  }

  /** The full-rewrite body shared by [[writeVersioned]],
    * [[writeVersionedExclusive]] and [[writeVersionedChecked]] —
    * `afterWrite` runs between the data write and the publish and may
    * THROW to abort with the staged files left as an invisible,
    * vacuumable orphan. */
  private def stageAndPublish(
      frame: DataFrame,
      path: String,
      partitionBy: Seq[String],
      afterWrite: () => Unit,
      exclusiveParent: Option[Long] = None): Long = {
    val (gen, parts) = stage(frame, path,
      exclusiveParent.getOrElse(latest(path).fold(0L)(_._1)), partitionBy)
    afterWrite()
    require(parts.nonEmpty,
      s"parquet write produced no part files for generation $gen under $path")
    // carry the streaming txn ledger through full rewrites too — a
    // maintenance write must not reopen the door to batch replays.
    // The OLD #schema marker is not carried (a rewrite may narrow the
    // schema), but the NEW schema is committed fresh from the written
    // frame: it costs one line, and it keeps the next appendBatch off
    // the footer-scan fallback — without it, every streaming batch
    // after a compact/writeVersioned pays a readFiles footer pass over
    // the whole table to re-infer what this write already knew.
    publish(path,
      parts ++ carriedMarkers(path) :+ schemaMarker(nullable(frame.schema)),
      gen, retryOnConflict = exclusiveParent.isEmpty)
  }

  /** Write-audit-publish: the data files are written and the quality
    * gate evaluated BEFORE the manifest link goes live — a failing
    * expectation leaves the previous generation as the published
    * state and the staged files as an invisible orphan ([[vacuum]]
    * reclaims them). This is the WAP pattern every serious table
    * pipeline runs: bad data must never become readable, and with
    * [[graft.operators.Expectations.observed]] the audit metrics ride
    * the write itself — validation costs ZERO extra passes over `df`.
    *
    * Returns the committed generation; throws IllegalStateException
    * (naming each failing check and its violation count) without
    * publishing when any check has violations.
    */
  def writeVersionedChecked(
      df: DataFrame,
      path: String,
      checks: Seq[graft.operators.Expectations.Check],
      partitionBy: Seq[String] = Seq.empty): Long = {
    require(checks.nonEmpty, "at least one check (else use writeVersioned)")
    val (instrumented, obs) =
      graft.operators.Expectations.observed(df, checks)
    // close() in finally: if the WRITE job itself throws, get() never
    // runs and the handle's session-global listener would leak —
    // fatal in a long-lived driver retrying checked writes
    try stageAndPublish(instrumented, path, partitionBy, () => {
      val metrics = obs.get()
      val failing = checks
        .map(c => c.name -> metrics(s"viol_${c.name}").asInstanceOf[Long])
        .filter(_._2 > 0)
      if (failing.nonEmpty)
        throw new IllegalStateException(
          "write-audit-publish aborted, staged generation NOT published: " +
            failing.map { case (n, v) => s"$n=$v" }.mkString(", "))
    })
    finally obs.close()
  }

  private def txnsOf(lines: Seq[String]): Set[String] =
    lines.filter(_.startsWith(TxnPrefix)).map(_.stripPrefix(TxnPrefix)).toSet

  private def filesOf(lines: Seq[String]): Seq[String] =
    lines.filterNot(_.startsWith("#"))

  /** Decode a manifest's committed-schema marker (base64 of the Spark
    * schema JSON — one line, no '#'/newline hazards). */
  private def schemaOf(lines: Seq[String]): Option[StructType] =
    lines.find(_.startsWith(SchemaPrefix)).map { l =>
      DataType.fromJson(new String(
        java.util.Base64.getDecoder.decode(l.stripPrefix(SchemaPrefix)),
        java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
    }

  private def schemaMarker(st: StructType): String =
    SchemaPrefix + java.util.Base64.getEncoder.encodeToString(
      st.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Top-level-nullable copy: committed schemas are stored nullable so
    * old files missing an added column read as nulls without parquet
    * required/optional friction. */
  private def nullable(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))

  /** The COMMITTED schema of the latest generation, if this table has
    * one — since round 9 every publish path (appends, schema
    * evolution, AND full rewrites via stageAndPublish) commits a
    * marker, so None means a pre-round-9 manifest or external
    * tampering; readers still fall back to footer inference then. */
  def tableSchema(path: String): Option[StructType] =
    latestRaw(path).flatMap(r => schemaOf(r._2))

  /** Type equality modulo nullability at EVERY nesting level: a
    * parquet read-back infers array<int> containsNull=true where the
    * in-memory frame that wrote it said containsNull=false — that is
    * the same type, not an evolution conflict. */
  private def sameTypeIgnoreNullability(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameTypeIgnoreNullability(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeIgnoreNullability(x.keyType, y.keyType) &&
          sameTypeIgnoreNullability(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.fields.length == y.fields.length &&
          x.fields.zip(y.fields).forall { case (f, g) =>
            f.name == g.name &&
              sameTypeIgnoreNullability(f.dataType, g.dataType)
          }
      case _ => a == b
    }

  /** Delta-style mergeSchema: same-name fields must type-match exactly
    * (loud failure otherwise), table-absent append columns are
    * appended, append-absent table columns stay (old files simply
    * lack them). Everything lands nullable. */
  private def mergeSchemas(prev: StructType, next: StructType,
      allowNew: Boolean): StructType = {
    val byName = prev.fields.map(f => f.name -> f).toMap
    val conflicts = next.fields.flatMap { f =>
      byName.get(f.name)
        .filterNot(p => sameTypeIgnoreNullability(p.dataType, f.dataType))
        .map(p =>
          s"${f.name}: table=${p.dataType.simpleString} " +
            s"append=${f.dataType.simpleString}")
    }
    if (conflicts.nonEmpty) throw new IllegalStateException(
      "schema evolution type conflict (incompatible append refused): " +
        conflicts.mkString("; "))
    val added = next.fields.filterNot(f => byName.contains(f.name))
    if (added.nonEmpty && !allowNew) throw new IllegalStateException(
      s"append adds columns ${added.map(_.name).mkString(", ")} — pass " +
        "mergeSchema=true to widen the table schema")
    nullable(StructType(prev.fields ++ added))
  }

  /** The (appId:batchId) transaction markers carried by the LATEST
    * manifest — the replay ledger [[appendBatch]] consults. Markers
    * accumulate forward through EVERY manifest-publishing operation
    * (append, delete, upsert, compact, full rewrite — each carries the
    * previous manifest's markers), so the newest manifest alone holds
    * the full history and [[vacuum]] (which keeps only that manifest)
    * never loses replay protection. */
  def committedTxns(path: String): Set[String] =
    latestRaw(path).map(r => txnsOf(r._2)).getOrElse(Set.empty)

  /** Marker lines to carry into a successor manifest. */
  private def carriedMarkers(path: String): Seq[String] =
    committedTxns(path).toSeq.sorted.map(TxnPrefix + _)

  /** Idempotent exactly-once streaming APPEND — the foreachBatch sink
    * for this table format: each micro-batch lands as a new generation
    * whose manifest lists the previous generation's files + the new
    * data files + a `#txn=appId:batchId` marker line. The marker
    * commits ATOMICALLY with the data (it lives inside the manifest,
    * and the manifest publish is one hard link), so a replayed batch —
    * Structured Streaming's at-least-once redelivery after a crash —
    * is detected by [[committedTxns]] and skipped without writing:
    * at-least-once delivery × idempotent commit = exactly-once tables.
    *
    * Single-writer contract (the streaming norm): concurrent
    * non-append writers can interleave manifests that drop marker
    * history or files; one streaming query owns the table.
    *
    * @return Some(generation) if committed, None if this
    *         (appId, batchId) was already committed (replay)
    */
  def appendBatch(
      batch: DataFrame,
      path: String,
      appId: String,
      batchId: Long,
      partitionBy: Seq[String] = Seq.empty): Option[Long] = {
    require(appId.nonEmpty && !appId.contains(":") && !appId.contains("\n"),
      s"appId must be non-empty without ':' or newline: '$appId'")
    val key = s"$appId:$batchId"
    // ONE manifest read serves both the replay check and the file list
    val prev = latestRaw(path)
    if (prev.exists(r => txnsOf(r._2).contains(key))) None
    else Some(append(batch, path, partitionBy, prev, allowNew = true,
      txn = Some(key), retryOnConflict = true))
  }

  /** Batch APPEND as a new generation (previous files re-referenced +
    * this write's files), with Delta-style schema evolution: by
    * default the incoming schema must introduce no new columns (loud
    * failure names them); with `mergeSchema = true` new columns WIDEN
    * the committed table schema — readers see them as null on
    * pre-evolution files via the manifest's `#schema=` marker, with no
    * footer-merge sweep at read time (at 100 TB, mergeSchema-on-read
    * is a million-footer LIST+GET storm; committing the schema with
    * the manifest makes evolution O(1) at the reader). Same-name
    * type conflicts fail loudly in BOTH modes. Concurrency: a writer
    * that loses the generation race throws
    * [[ConcurrentWriteException]] rather than silently dropping the
    * winner's appended files — re-call to rebase and retry. */
  def appendVersioned(df: DataFrame, path: String,
      partitionBy: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false): Long =
    // NO conflict retry: this manifest's file list is built from the
    // generation read at entry, so re-publishing one generation higher
    // after losing a race would silently DROP the winner's files (a
    // lost update — the exact anomaly writeVersionedExclusive exists
    // to prevent). A loser fails loudly; re-call appendVersioned to
    // rebase on the new latest.
    append(df, path, partitionBy, latestRaw(path), allowNew = mergeSchema,
      txn = None, retryOnConflict = false)

  /** The append body shared by [[appendBatch]] and [[appendVersioned]]:
    * the new generation lists `prev`'s files + `df`'s, carries `prev`'s
    * txn markers (+ `txn`), and commits the merged schema.
    *
    * The committed schema is persisted with every append: a
    * marker-only generation (an EMPTY partitioned batch writes no part
    * files, and it must still commit its marker or a streaming query
    * replays it forever) must read back as an EMPTY frame of the right
    * shape at a polling reader, not as "manifest lists no files". When
    * `prev` has no marker but DOES list files (pre-marker tables), the
    * appended schema alone is NOT authoritative — a narrower batch
    * would commit a schema that hides existing columns on every later
    * readAt — so the prior schema is inferred from the files and
    * merged (type conflicts fail loudly, before any data is written). */
  private def append(df: DataFrame, path: String, partitionBy: Seq[String],
      prev: Option[(Long, Seq[String])], allowNew: Boolean,
      txn: Option[String], retryOnConflict: Boolean): Long = {
    val prevLines = prev.fold(Seq.empty[String])(_._2)
    val prevFiles = filesOf(prevLines)
    val committed = schemaOf(prevLines).orElse(
      if (prevFiles.nonEmpty)
        Some(readFiles(df.sparkSession, path, prevFiles).schema)
      else None
    ).fold(nullable(df.schema))(mergeSchemas(_, df.schema, allowNew))
    val (gen, newParts) = stage(df, path, prev.fold(0L)(_._1), partitionBy)
    val markers = (txnsOf(prevLines) ++ txn).toSeq.sorted.map(TxnPrefix + _)
    publish(path,
      (prevFiles ++ newParts).sorted ++ markers :+ schemaMarker(committed),
      gen, retryOnConflict)
  }

  /** Write a new generation AND collect per-file zone maps (min/max of
    * `statsCols` per part file) into a `_stats-<gen>` sidecar — the
    * data-skipping kernel of every table format: at 100 TB a selective
    * scan must not OPEN 100 TB of files to find the 1% that can match.
    *
    * Stats collection re-reads only the new generation, column-pruned
    * to `statsCols` + `_metadata.file_path` (footer-cheap relative to
    * the write itself). The sidecar is written AFTER the manifest
    * publish — a crash in between leaves a perfectly readable
    * generation whose readers simply fall back to no skipping: stats
    * are an optimization, never load-bearing for correctness.
    */
  def writeVersionedWithStats(df: DataFrame, path: String,
      statsCols: Seq[String], partitionBy: Seq[String] = Seq.empty): Long = {
    require(statsCols.nonEmpty, "writeVersionedWithStats needs statsCols")
    val spark = df.sparkSession
    val gen = writeVersioned(df, path, partitionBy)
    val committed = readAt(spark, path, gen)
    val tags = committed.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    statsCols.foreach(c => require(tags.contains(c), s"no column $c to collect stats for"))
    import org.apache.spark.sql.functions.{max, min}
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    val rows = committed
      .select(col("_metadata.file_path").as("__file") +: statsCols.map(col): _*)
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per part file — manifest-sized, not data-sized
    val rel = relTo(path)
    def b64(v: String): String = java.util.Base64.getEncoder
      .encodeToString(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val lines = rows.flatMap { r =>
      val file = rel(r.getString(0))
      statsCols.map { c =>
        val mn = Option(r.getAs[String](s"__min_$c")).map(b64).getOrElse("-")
        val mx = Option(r.getAs[String](s"__max_$c")).map(b64).getOrElse("-")
        s"$file\t$c\t${tags(c)}\t$mn\t$mx"
      }
    }.sorted.toSeq
    writeSidecar(path, StatsPrefix, gen, lines)
  }

  /** Build a per-file BLOOM index sidecar `_bloom-<gen>` over an
    * integral `column` of the LATEST generation — the point-lookup
    * complement of zone maps: min/max prunes range scans on sorted-ish
    * layouts, a bloom prunes `column = v` probes on ANY layout (the
    * Delta bloom-index idea on the manifest protocol). Each committed
    * file gets its own filter sized to its row count; like the stats
    * sidecar it is written AFTER the generation is live, so a crash
    * merely degrades point reads to no skipping — never correctness.
    *
    * Build cost: one column-pruned read per part file (driver-looped
    * jobs — the sidecar builder's cost class, same as stats
    * collection). Returns the indexed generation.
    */
  def writeBloomIndex(spark: SparkSession, path: String, column: String,
      fpp: Double = 0.01): Long = {
    require(fpp > 0 && fpp < 1, s"fpp in (0,1): $fpp")
    val (gen, files) = latestOrFail(path)
    val dir = Paths.get(path)
    val lines = files.sorted.map { f =>
      val one = spark.read.parquet(dir.resolve(f).toString)
        .select(col(column))
        .where(col(column).isNotNull)
      val n = one.count()
      val bloom = one.stat.bloomFilter(column, math.max(n, 1L), fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      val b = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
      s"$f\t$column\t$b"
    }
    writeSidecar(path, BloomPrefix, gen, lines)
  }

  /** The files of the latest generation that MIGHT contain
    * `column = value`, per the bloom sidecar: (kept, skipped). Files
    * not covered by a sidecar (absent, other column, crash) are kept —
    * a bloom miss PROVES absence, absence of a bloom proves nothing.
    */
  def prunePoint(path: String, column: String,
      value: Long): (Seq[String], Seq[String]) = {
    val (gen, files) = latestOrFail(path)
    val f = genFile(Paths.get(path), BloomPrefix, gen)
    if (!Files.exists(f)) return (files, Seq.empty)
    val blooms = linesOf(f).flatMap { l =>
      val Array(file, c, b) = l.split("\t", 3)
      if (c != column) None
      else Some(file -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(b))))
    }.toMap
    files.partition(f => blooms.get(f).forall(_.mightContainLong(value)))
  }

  /** Read `column = value` from the latest generation, opening only
    * files whose blooms might contain it; the exact filter keeps the
    * result correct at any false-positive rate (and pushes into the
    * parquet scan for row-group pruning inside kept files). */
  def readPoint(spark: SparkSession, path: String, column: String,
      value: Long): DataFrame =
    readKept(spark, path, prunePoint(path, column, value)._1,
      col(column) === lit(value))

  /** The pruned read of [[readPoint]]/[[readBetween]]: the `kept` files
    * under the committed schema, filtered by the exact `residual`.
    * When nothing is kept, the manifest's files are read with a
    * constant-false filter instead (the schema still comes back;
    * parquet pushdown scans no row groups). */
  private def readKept(spark: SparkSession, path: String, kept: Seq[String],
      residual: Column): DataFrame =
    if (kept.nonEmpty) readFiles(spark, path, kept, tableSchema(path)).where(residual)
    else read(spark, path).where(residual && lit(false))

  /** Zone maps of a committed generation, or None when the sidecar is
    * absent (plain [[writeVersioned]], or a crash before the sidecar). */
  def stats(path: String, gen: Long): Option[Seq[ZoneStat]] = {
    val f = genFile(Paths.get(path), StatsPrefix, gen)
    if (!Files.exists(f)) None
    else Some(linesOf(f).map { l =>
      val Array(file, c, tag, mn, mx) = l.split("\t", 5)
      def un(v: String): Option[String] =
        if (v == "-") None
        else Some(new String(java.util.Base64.getDecoder.decode(v),
          java.nio.charset.StandardCharsets.UTF_8))
      ZoneStat(file, c, tag, un(mn), un(mx))
    })
  }

  /** Typed ordering for zone-map strings, or None when the comparison
    * cannot be TRUSTED — unknown tag (timestamp/date/boolean/...: the
    * caller's bound formatting need not match Spark's string cast, and
    * a format mismatch here would silently prune files that match),
    * a bound that fails to parse as the column's type (e.g. "10.5"
    * against a long column), or non-ASCII strings (Java string order
    * matches Spark's UTF8String binary-UTF-8 order only for ASCII).
    * None always means "keep the file": mis-pruning loses rows, while
    * keeping only costs a read. Numerics parse exactly
    * (shortest-decimal round-trips). */
  private def tryCmp(tag: String, a: String, b: String): Option[Int] = {
    import scala.util.Try
    tag match {
      case "byte" | "short" | "integer" | "long" =>
        Try(java.lang.Long.compare(a.toLong, b.toLong)).toOption
      case "float" | "double" =>
        Try(java.lang.Double.compare(a.toDouble, b.toDouble)).toOption
      case t if t.startsWith("decimal") =>
        Try(BigDecimal(a).compare(BigDecimal(b))).toOption
      case "string" if allAscii(a) && allAscii(b) => Some(a.compareTo(b))
      case _ => None
    }
  }

  private def allAscii(s: String): Boolean = s.forall(_ < 128)

  /** Does the file's [min, max] overlap [lo, hi]? All-null stats (None)
    * never overlap a range predicate — `BETWEEN` is null-rejecting —
    * regardless of type; an UNTRUSTED comparison (tryCmp None) counts
    * as overlapping, so the file is kept. */
  private def overlaps(z: ZoneStat, lo: String, hi: String): Boolean =
    (z.min, z.max) match {
      case (Some(mn), Some(mx)) =>
        (tryCmp(z.typeTag, mx, lo), tryCmp(z.typeTag, mn, hi)) match {
          case (Some(cMaxLo), Some(cMinHi)) => cMaxLo >= 0 && cMinHi <= 0
          case _ => true
        }
      case _ => false
    }

  /** The latest generation's files split into (kept, pruned) for the
    * range predicate `column BETWEEN lo AND hi` — exposed so callers
    * (and specs) can observe skipping, not just benefit from it.
    * Files without a stat row for `column` are always kept. */
  def pruneBetween(path: String, column: String,
      lo: Any, hi: Any): (Seq[String], Seq[String]) = {
    val (gen, files) = latestOrFail(path)
    stats(path, gen) match {
      case None => (files, Seq.empty)
      case Some(zs) =>
        val byFile = zs.filter(_.column == column).map(z => z.file -> z).toMap
        val (ls, hs) = (String.valueOf(lo), String.valueOf(hi))
        files.partition { f =>
          byFile.get(f) match {
            case None => true
            case Some(z) => overlaps(z, ls, hs)
          }
        }
    }
  }

  /** Read `column BETWEEN lo AND hi` from the latest generation, opening
    * only files whose zone maps can overlap; the residual filter keeps
    * the result EXACT whatever the stats say (and still reaches the
    * parquet scan for row-group pruning inside kept files). Falls back
    * to a full-file-list scan when no sidecar exists. */
  def readBetween(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): DataFrame =
    readKept(spark, path, pruneBetween(path, column, lo, hi)._1,
      col(column) >= lit(lo) && col(column) <= lit(hi))

  /** The copy-on-write kernel of [[deleteWhere]] and [[upsert]]: only
    * the files holding affected rows rewrite, every other file of the
    * latest generation is referenced in place by the new manifest,
    * byte-identical and never copied. `hits` maps the committed rows
    * (read under the committed schema, hidden `_metadata` still
    * resolvable) to the `_metadata.file_path` of every row that forces
    * its file's rewrite. `rewrite` maps the affected files' rows (None
    * when no file is affected) to the rows written in their place (None
    * when there are none). With no file affected and nothing to write,
    * the current generation is returned and nothing is published.
    * The successor manifest carries the txn markers and the committed
    * schema: rewritten rows materialize the FULL schema while untouched
    * files keep their old one, so the schema marker stays load-bearing.
    */
  private def copyOnWrite(spark: SparkSession, path: String,
      partitionBy: Seq[String], hits: DataFrame => DataFrame)(
      rewrite: Option[DataFrame] => Option[DataFrame]): Long = {
    val (gen, lines) = latestRaw(path).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path"))
    val (files, stored, rel) = (filesOf(lines), schemaOf(lines), relTo(path))
    val affected = hits(readFiles(spark, path, files, stored))
      .distinct().collect().map(r => rel(r.getString(0))).toSet
    val rows = rewrite(
      if (affected.isEmpty) None
      else Some(readFiles(spark, path, affected.toSeq.sorted, stored)))
    if (affected.isEmpty && rows.isEmpty) return gen
    val newParts = rows.fold(Seq.empty[String])(stage(_, path, gen, partitionBy)._2)
    val manifest = (files.filterNot(affected) ++ newParts).sorted
    require(manifest.nonEmpty,
      "deleteWhere would delete every row of every file; write an empty " +
        "generation explicitly if that is intended")
    publish(path, manifest ++ txnsOf(lines).toSeq.sorted.map(TxnPrefix + _) ++
      lines.find(_.startsWith(SchemaPrefix)), gen + 1)
  }

  /** Copy-on-write DELETE: remove every row of the latest generation
    * matching `condition`, REWRITING ONLY THE FILES THAT CONTAIN such
    * rows — untouched files are referenced in place by the new
    * manifest, byte-identical and never copied. This is the
    * table-format delete kernel (GDPR erasure, retention enforcement):
    * at 100 TB, deleting one user's rows must cost proportional to
    * the files that hold them — which a clustered layout
    * ([[graft.operators.ZOrder]], partitioning) makes few — not a
    * full-corpus rewrite.
    *
    * Mechanics: one predicate-pushed, `_metadata`-projected pass finds
    * the affected files; their surviving rows (rows where `condition`
    * is false or NULL — SQL DELETE semantics) are rewritten into a
    * fresh data dir; the new manifest lists untouched + rewritten
    * files and publishes atomically. Time travel to the pre-delete
    * generation keeps working until [[vacuum]], which reclaims the
    * affected originals while keeping the shared untouched files
    * (they are referenced by the latest manifest).
    *
    * Returns the new generation, or the current one when nothing
    * matches.
    */
  def deleteWhere(spark: SparkSession, path: String,
      condition: Column,
      partitionBy: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.{coalesce, not}
    copyOnWrite(spark, path, partitionBy,
      _.where(condition).select(col("_metadata.file_path"))) {
      _.map(_.where(not(coalesce(condition, lit(false))))).filterNot(_.isEmpty)
    }
  }

  /** Copy-on-write keyed UPSERT (incoming rows replace same-key rows,
    * everything else survives, unmatched incoming rows append)
    * at [[deleteWhere]]'s cost: only the files CONTAINING a matched key
    * rewrite; everything else is referenced in place. At 100 TB the
    * nightly 0.1% upsert must touch 0.1% of files (clustered layouts
    * make the affected set small), not 100%. The first upsert into an
    * absent table is a plain [[writeVersioned]].
    *
    * The affected-file probe is one `_metadata`-projected semi join
    * against the (broadcastable) incoming key set; survivors of the
    * affected files are anti-joined on the key and rewritten together
    * with ALL incoming rows into the new data dir (Hive-style subdirs
    * per `partitionBy`, which must match the table's layout).
    */
  def upsert(
      spark: SparkSession,
      incoming: DataFrame,
      keyCols: Seq[String],
      path: String,
      partitionBy: Seq[String] = Seq.empty): Long = {
    if (latest(path).isEmpty) return writeVersioned(incoming, path, partitionBy)
    val keys = incoming.select(keyCols.map(col): _*).distinct().materialize()
    // project the hidden _metadata column BEFORE the join — it only
    // resolves against the file-source relation itself
    copyOnWrite(spark, path, partitionBy,
      _.select(col("_metadata.file_path").as("__file") +: keyCols.map(col): _*)
        .join(keys, keyCols, "left_semi")
        .select(col("__file"))) { affected =>
      Some(affected.fold(incoming)(
        _.join(keys, keyCols, "left_anti").unionByName(incoming)))
    }
  }

  /** Compact the latest generation's small files into ~`targetBytes`
    * files — the OPTIMIZE/bin-packing half of the table-format story
    * (zone maps being the other). Small files are the failure mode of
    * incremental writes: a 100 TB table accreted in 10 MB upserts pays
    * per-file open/footer/list costs thousands of times per scan. This
    * rewrites the CURRENT rows into ceil(totalBytes / targetBytes)
    * files and publishes them as a NEW generation: readers never see a
    * half-compacted state, time travel to the pre-compaction
    * generation keeps working until [[vacuum]], and a crash mid-rewrite
    * leaves only an invisible orphan data dir. Row content is
    * untouched — multiset equality under compaction is spec-pinned
    * with [[graft.operators.Checksum]].
    *
    * No-op (returns the current generation) when the current layout
    * already meets the target file count. `layout` optionally imposes
    * an ordering on the way out (e.g. a
    * [[graft.operators.ZOrder.layoutBy]] pass — compaction is the
    * natural moment to re-cluster); it receives the rows and the
    * target file count and must partition into exactly that many
    * files' worth of partitions. `statsCols` regenerates the zone-map
    * sidecar for the compacted generation.
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetBytes: Long,
      statsCols: Seq[String] = Seq.empty,
      partitionBy: Seq[String] = Seq.empty,
      layout: (DataFrame, Int) => DataFrame =
        (df, n) => df.repartition(n)): Long = {
    require(targetBytes > 0, s"targetBytes must be > 0: $targetBytes")
    val (gen, files) = latestOrFail(path)
    val dir = Paths.get(path)
    val totalBytes = files.map(f => Files.size(dir.resolve(f))).sum
    val nTarget = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    if (nTarget >= files.size) return gen // already compact enough
    val packed = layout(readAt(spark, path, gen), nTarget.toInt)
    // a partitioned dataset must re-state partitionBy or compaction
    // would flatten its Hive-style subdirs and readers would lose
    // partition pruning — the caller owns the layout contract
    if (statsCols.nonEmpty)
      writeVersionedWithStats(packed, path, statsCols, partitionBy)
    else writeVersioned(packed, path, partitionBy)
  }

  /** OPTIMIZE scheduling for append-accreted tables: compact only when
    * the latest manifest references more than `maxFiles` files — the
    * trigger a streaming ingest pipeline calls after every batch so
    * small-file buildup self-heals without a separate maintenance job
    * paying a rewrite per trigger. Returns Some(new generation) when a
    * compaction ran, None when the table is already within budget. The
    * txn ledger survives ([[compact]] publishes through
    * [[writeVersioned]], which carries markers), so replay protection
    * holds across maintenance. */
  def compactIfNeeded(
      spark: SparkSession,
      path: String,
      targetBytes: Long,
      maxFiles: Int,
      statsCols: Seq[String] = Seq.empty,
      partitionBy: Seq[String] = Seq.empty): Option[Long] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    latest(path) match {
      case Some((gen, files)) if files.size > maxFiles =>
        // compact() itself no-ops (returns the CURRENT gen) when the
        // bin-packing target needs >= the existing file count — e.g.
        // many files that are each already target-sized. Surfacing
        // that as Some(<old gen>) would log a compaction that never
        // happened while the file count keeps growing; report honestly
        val out = compact(spark, path, targetBytes, statsCols, partitionBy)
        if (out == gen) None else Some(out)
      case _ => None
    }
  }

  /** Retention policy: expire every generation except the newest
    * `keepLast` — the bounded form of time travel every production
    * table runs (Delta's RETAIN, Iceberg's expire_snapshots). Deletes
    * the expired manifests (+ their stats/bloom sidecars) and every
    * part file referenced ONLY by expired generations; a file shared
    * with a surviving generation stays (append-mode manifests
    * re-reference old files, so reference counting is per-file, not
    * per-generation). Time travel keeps working for every surviving
    * generation, and the streaming txn ledger survives because
    * markers are carried forward into the newest manifest
    * ([[appendBatch]]'s contract). Returns the deleted entries.
    *
    * Unlike [[vacuum]] (which keeps only the LATEST generation's
    * files and exists for orphan cleanup), this is the policy knob:
    * `expireGenerations(p, 1)` + `vacuum(p)` is maximal reclamation.
    */
  def expireGenerations(path: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val dir = Paths.get(path)
    val all = manifests(dir)
    if (all.size <= keepLast) return Seq.empty
    val (expired, survivors) = all.splitAt(all.size - keepLast)
    def filesIn(m: Path): Seq[String] = filesOf(linesOf(m))
    val keepFiles =
      survivors.flatMap(filesIn).map(f => dir.resolve(f).normalize).toSet
    val removed = Seq.newBuilder[String]
    // ORDER MATTERS: drop the expired MANIFESTS (+sidecars) first,
    // THEN their now-orphaned part files. The reverse order has a bad
    // crash/concurrency window — files gone while manifests still name
    // them, so a time-travel reader (or a re-run after a mid-pass
    // crash) gets file-not-found instead of the honest "no manifest
    // for generation". Reading the expired file lists into memory
    // first (filesIn above) keeps the second pass independent of the
    // already-deleted manifests.
    val expiredFiles = expired.flatMap(filesIn).distinct
    expired.foreach { m =>
      val gen = manifestGen(m)
      Seq(m, genFile(dir, StatsPrefix, gen), genFile(dir, BloomPrefix, gen))
        .filter(Files.deleteIfExists).foreach(removed += _.getFileName.toString)
    }
    expiredFiles.filterNot(f => keepFiles.contains(dir.resolve(f).normalize))
      .filter(f => Files.deleteIfExists(dir.resolve(f))).foreach(removed += _)
    removed.result()
  }

  /** Delete everything the latest manifest does not reference: orphan
    * data directories from crashed writers (including their nested
    * `_temporary/...` trees), stale `.manifest-tmp-*` staging files, and
    * superseded generations' files + manifests. Only run once no reader
    * still holds an older manifest AND no writer is mid-commit (a
    * concurrent writer's staging tmp or un-published data dir looks
    * exactly like a crash orphan — same rule as every table format's
    * vacuum horizon). */
  def vacuum(path: String): Seq[String] = {
    val dir = Paths.get(path)
    val metaPrefixes = Seq(ManifestPrefix, StatsPrefix, BloomPrefix)
    latest(path) match {
      case None => Seq.empty
      case Some((gen, files)) =>
        val keep = files.map(f => dir.resolve(f).normalize).toSet ++
          metaPrefixes.map(genFile(dir, _, gen).normalize)
        // the generation's TOP data dir is the first segment of each
        // entry — file parents may be partition subdirs (Season=.../)
        val keepDataDirs =
          files.map(f => dir.resolve(f.takeWhile(_ != '/')).normalize).toSet
        val removed = Seq.newBuilder[String]
        def dropUnreferencedParts(p: Path): Unit = LocalFs.list(p).foreach { f =>
          if (Files.isDirectory(f)) dropUnreferencedParts(f)
          else if (f.getFileName.toString.matches("part-.*\\.parquet") &&
            !keep.contains(f.normalize)) {
            Files.delete(f); removed += dir.relativize(f).toString
          }
        }
        LocalFs.list(dir).foreach { child =>
          val name = child.getFileName.toString
          if ((metaPrefixes.exists(name.startsWith) && !keep.contains(child.normalize))
              || metaPrefixes.exists(p => name.startsWith(tmpPrefix(p)))) {
            Files.delete(child); removed += name
          } else if (name.startsWith("data-") && !keepDataDirs.contains(child.normalize)) {
            // crashed writers leave nested _temporary/... trees — delete
            // recursively, not just one level
            LocalFs.deleteRecursively(child)
            removed += name
          } else if (name.startsWith("data-")) {
            // referenced dir: drop only unreferenced part files inside
            // (recursing into partition subdirs; _SUCCESS markers stay,
            // harmless)
            dropUnreferencedParts(child)
          }
        }
        removed.result().sorted
    }
  }

  /** One schema-drift finding between two generations. `change` is
    * "added" | "removed" | "type_changed"; types are Spark simpleString
    * ("absent" for the missing side). */
  final case class SchemaChange(
      column: String, change: String, fromType: String, toType: String)

  /** Detect schema drift between two committed generations — the
    * ingest tripwire a versioned dataset runs before publishing
    * (round 5's environment drift was exactly an unnoticed type
    * change; this makes the same class of break a one-line report for
    * DATA, not just the env). Footer-only work: schemas come from the
    * generations' parquet metadata, nothing scans. Columns are
    * compared by name; order changes are not drift. */
  def schemaDiff(spark: SparkSession, path: String,
      fromGen: Long, toGen: Long): Seq[SchemaChange] = {
    def fields(g: Long): Map[String, String] =
      readAt(spark, path, g).schema.fields
        .map(f => f.name -> f.dataType.simpleString).toMap
    val a = fields(fromGen)
    val b = fields(toGen)
    val added = (b.keySet -- a.keySet).toSeq.sorted
      .map(c => SchemaChange(c, "added", "absent", b(c)))
    val removed = (a.keySet -- b.keySet).toSeq.sorted
      .map(c => SchemaChange(c, "removed", a(c), "absent"))
    val changed = (a.keySet & b.keySet).toSeq.sorted
      .filter(c => a(c) != b(c))
      .map(c => SchemaChange(c, "type_changed", a(c), b(c)))
    added ++ removed ++ changed
  }
}
