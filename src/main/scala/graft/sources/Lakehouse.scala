package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Bronze/Silver/Gold lakehouse path scheme ≙ reference
  * `src/common/paths.py:23-55`. Root is any filesystem/object-store URI.
  */
final case class LakePaths(root: String) {
  def bronze(sub: String): String = s"$root/bronze/$sub"
  def silver(league: String, dataset: String): String = s"$root/silver/$league/$dataset"
  def gold(league: String, dataset: String): String = s"$root/gold/$league/$dataset"
}

/** Dataset registry ≙ reference `src/common/datasets.py:20-96`: maps known
  * input filenames to lake subpaths, with kind/league tags; unknown files
  * route to misc/ instead of failing.
  */
final case class DatasetSpec(
    datasetName: String, lakeSubpath: String, kind: String, league: String)

object DatasetRegistry {
  val Known: Map[String, DatasetSpec] = {
    def spec(file: String, name: String, kind: String, league: String) =
      file -> DatasetSpec(name, s"$league/$name", kind, league)
    Map(
      spec("MRegularSeasonCompactResults.csv", "regular_compact", "regular_season", "M"),
      spec("WRegularSeasonCompactResults.csv", "regular_compact", "regular_season", "W"),
      spec("MNCAATourneyCompactResults.csv", "tourney_compact", "tournament", "M"),
      spec("WNCAATourneyCompactResults.csv", "tourney_compact", "tournament", "W"),
      spec("MNCAATourneySeeds.csv", "tourney_seeds", "tournament", "M"),
      spec("WNCAATourneySeeds.csv", "tourney_seeds", "tournament", "W"),
      spec("MMasseyOrdinals.csv", "massey_ordinals", "rankings", "M"),
      spec("MTeams.csv", "teams", "reference", "M"),
      spec("WTeams.csv", "teams", "reference", "W"),
      spec("MSeasons.csv", "seasons", "reference", "M"),
      spec("WSeasons.csv", "seasons", "reference", "W"),
      spec("SampleSubmissionStage1.csv", "submission_stage1", "submission", "U"),
      spec("SampleSubmissionStage2.csv", "submission_stage2", "submission", "U"))
  }

  /** Unknown files fall through to misc/ (never fail ingest). */
  def route(fileName: String): DatasetSpec =
    Known.getOrElse(fileName,
      DatasetSpec(fileName.stripSuffix(".csv"), s"misc/${fileName.stripSuffix(".csv")}", "misc", "U"))
}

/** Scan/sink operators S1-S8 (SURVEY §2.1). */
object Lakehouse {

  /** S1 + F1: header CSV read with schema inference and every string
    * column trimmed ≙ `jobs/01_ingest_bronze.py:47-57`. */
  def readCsvTrimmed(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true").option("inferSchema", "true")
      .csv(path)
    raw.schema.fields.filter(_.dataType == StringType).foldLeft(raw) {
      (df, f) => df.withColumn(f.name, trim(col(f.name)))
    }
  }

  /** S8 + S4: discover `*.csv` under `inputDir`, route each through the
    * registry, land as Bronze parquet ≙ `jobs/01_ingest_bronze.py:38-65`.
    * Returns (file, landedPath) pairs.
    */
  def ingestBronze(
      spark: SparkSession,
      inputDir: String,
      lake: LakePaths): Seq[(String, String)] = {
    val files = LocalFs.list(Paths.get(inputDir))
      .filter(_.toString.endsWith(".csv")).sortBy(_.toString)
    files.map { f =>
      val spec = DatasetRegistry.route(f.getFileName.toString)
      val out = lake.bronze(spec.lakeSubpath)
      readCsvTrimmed(spark, f.toString)
        .write.mode(SaveMode.Overwrite).parquet(out)
      f.toString -> out
    }
  }

  /** S4: standard overwrite parquet hand-off. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** ORC read/write — the second columnar interchange format (Spark's
    * native ORC datasource; orc-core ships in this Spark distribution).
    * Same scan properties as parquet: column pruning and predicate
    * pushdown reach the reader, so a lake can mix parquet and ORC
    * tables without plan-quality loss. Beyond the reference's surface
    * (it is parquet-only); here for interchange with ORC-native
    * warehouses. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** S5: single-file CSV export — coalesce(1), write to a tmp dir, then
    * move the lone part file to the artifact path
    * ≙ `jobs/04_train_and_export_submission.py:49-56`. Only the final
    * export narrows to one partition; upstream stays parallel. The tmp
    * dir (and Spark's `_SUCCESS`/`.crc` leftovers in it) is deleted
    * whether or not the export succeeds.
    */
  def exportSingleCsv(df: DataFrame, artifactPath: String): Path = {
    val tmp = Files.createTempDirectory("graft_csv_export")
    try {
      val tmpOut = tmp.resolve("out")
      df.coalesce(1).write.option("header", "true").mode(SaveMode.Overwrite)
        .csv(tmpOut.toString)
      val part = LocalFs.list(tmpOut)
        .find(_.getFileName.toString.matches("part-.*\\.csv"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmpOut"))
      val target = Paths.get(artifactPath)
      if (target.getParent != null) Files.createDirectories(target.getParent)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      target
    } finally LocalFs.deleteRecursively(tmp)
  }
}
