package graft

import java.nio.file.{FileSystems, Files, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.functions.{PolyHash, SketchExprs, TextNorm}

/** Every custom expression in `graft.functions` generates code: its
  * projection sits inside a WholeStageCodegen stage (an expression that
  * fell back to interpreted eval would split the stage and cost a
  * virtual call per expression per row), the generated code compiles
  * (no silent fallback), and it gives the rows interpreted eval gives. */
class CodegenSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def ids = spark.range(3)
  private val text = concat(lit("a b c d e f "), col("id").cast("string"))
  private def vec(f: Int => Column) = array((0 until 8).map(f): _*)
  private val floats = vec(i => (col("id") + i).cast("float"))
  private val floats2 = vec(i => (col("id") * 2 - i).cast("float"))
  private val longs = vec(i => (col("id") - i).cast("long"))
  private val longs2 = vec(i => (col("id") * i % 3).cast("long"))
  private val pqEntries = Array.tabulate(2, 4, 4)((m, k, i) => (m + k + i).toFloat)
  private def bloomBits: Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(10)
    bf.putLong(1L)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
  private val shingles = SketchExprs.shingles(text, 3)

  /** Expression class name → a column that evaluates it over `ids`. */
  private val cases: Seq[(String, Column)] = Seq(
    "PolyHash" -> PolyHash.polyHash(text),
    "Shingles" -> shingles,
    "MinHashSig" -> SketchExprs.minHashSig(shingles, 4, 131L, 2147483647L,
      Array(3L, 5L, 7L, 11L), Array(1L, 2L, 3L, 4L)),
    "SimHash64" -> SketchExprs.simHash64(split(text, " "), 32, 131L, 2147483647L),
    "CosineSim" -> SketchExprs.cosineSim(floats, floats2),
    "SqEuclidean" -> SketchExprs.sqEuclidean(floats, floats2),
    "SqEuclideanDiff" -> SketchExprs.sqEuclideanDiff(floats, floats2),
    "SqEuclideanLong" -> SketchExprs.sqEuclideanLong(longs, longs2),
    "DotLong" -> SketchExprs.dotLong(longs, longs2),
    "DotDouble" -> SketchExprs.dotDouble(floats, floats2),
    "ArrayAgreeCount" -> SketchExprs.arrayAgreeCount(longs, longs2),
    "HyperplaneSig" -> SketchExprs.hyperplaneSig(floats, 4, 8),
    "PqEncode" -> SketchExprs.pqEncode(floats, pqEntries),
    "PqDistTable" -> SketchExprs.pqDistTable(floats, pqEntries),
    "BloomMightContainLong" -> SketchExprs.bloomMightContainLong(col("id"), bloomBits),
    "CanonicalText" -> TextNorm.canonicalText(upper(text)))

  /** The rows of `df()` with the session conf set to `conf`, restored
    * afterwards, and its executed plan. */
  private def under(conf: (String, String)*)(df: => DataFrame): (Seq[String], SparkPlan) = {
    val c = spark.conf
    val prev = conf.map { case (k, _) => k -> c.getOption(k) }
    conf.foreach { case (k, v) => c.set(k, v) }
    try {
      val d = df
      (d.collect().map(_.toString).toSeq, d.queryExecution.executedPlan)
    } finally prev.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }

  /** The nodes of one codegen stage: the stage's tree down to its inputs. */
  private def stage(p: SparkPlan): Seq[SparkPlan] =
    p +: p.children.filterNot(_.isInstanceOf[InputAdapter]).flatMap(stage)

  private def holds(name: String)(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.getClass.getSimpleName == name))

  cases.foreach { case (name, column) =>
    test(s"$name runs inside whole-stage codegen and matches interpreted eval") {
      def df = ids.select(column.as("out"))
      val (generated, plan) = under(
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")(df)
      val (interpreted, _) = under(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(df)
      val users = collect(plan) { case p if holds(name)(p) => p }
      val inStages = collect(plan) { case w: WholeStageCodegenExec => stage(w.child) }
        .flatten.filter(holds(name))
      assert(users.nonEmpty, s"no node of the plan evaluates $name:\n$plan")
      assert(users.forall(u => inStages.exists(_ eq u)),
        s"$name falls outside whole-stage codegen:\n$plan")
      assert(generated.size === 3)
      assert(generated === interpreted)
    }
  }

  test("the cases cover every expression class in graft.functions") {
    val uri = getClass.getClassLoader.getResource("graft/functions").toURI
    val dir =
      if (uri.getScheme == "jar")
        FileSystems.newFileSystem(uri, Map.empty[String, Any].asJava).getPath("graft/functions")
      else Paths.get(uri)
    val classes = Files.list(dir).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".class"))
      .map(f => Class.forName("graft.functions." + f.stripSuffix(".class"), false,
        getClass.getClassLoader))
      .filter(c => classOf[Expression].isAssignableFrom(c) &&
        !c.isInterface && !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .map(_.getSimpleName).toSet
    assert(classes.size === 16)
    assert(classes === cases.map(_._1).toSet)
  }
}
