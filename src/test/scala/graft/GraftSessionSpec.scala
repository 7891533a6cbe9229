package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the only place main code opens a SparkSession
  * (a second `getOrCreate()` would be a second copy of the session
  * shape, free to drift from it), and [[GraftExtensions]] is the only
  * place graft's SQL semantics are applied (a call site that spells or
  * rewrites by hand would be a second query path). */
class GraftSessionSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Vector[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  test("no main source outside GraftSession opens a session") {
    val sources = this.sources
    val factory = root.resolve("graft/GraftSession.scala")
    val offenders = sources.filter(_ != factory).filter { p: Path =>
      Files.readString(p).contains(".getOrCreate()")
    }
    assert(offenders.isEmpty,
      s"open sessions through graft.GraftSession instead: " +
        offenders.mkString(", "))
    assert(sources.contains(factory), "the session factory moved")
  }

  test("no main source outside the extension spells or rewrites SQL") {
    val sources = this.sources
    // the extension's files: the injection point, the spelling table
    // its parser applies, and the three post-hoc rules
    val extension = (Seq("graft/GraftExtensions.scala",
      "graft/DuckSyntax.scala") ++
      Seq("EnumOrderRewrite", "FooterAggRewrite", "MatViewRewrite")
        .map(r => s"graft/plans/$r.scala")).map(root.resolve)
    extension.foreach(f => assert(sources.contains(f), s"moved: $f"))
    val handApplied =
      "DuckSyntax\\.rewriteCasts|DuckSyntax\\.rewriteAsofJoin|\\w+Rewrite\\.rewrite\\(".r
    val offenders = sources.filterNot(extension.contains).filter { p =>
      handApplied.findFirstIn(Files.readString(p)).isDefined
    }
    assert(offenders.isEmpty,
      "graft's SQL semantics belong in GraftExtensions: " +
        offenders.mkString(", "))
  }

  test("a GraftSession.builder session carries the graft parser and the " +
      "three post-hoc rules, in order, and its clones inherit them") {
    val spark = SparkSpec.session // opened through GraftSession.builder
    Seq(spark, spark.newSession()).foreach { s =>
      assert(s.sessionState.sqlParser.isInstanceOf[GraftParser])
      val graftRules = s.sessionState.analyzer.postHocResolutionRules
        .collect { case r: GraftExtensions.EngineRule => r.ruleName }
      assert(graftRules == Seq("FooterAggRewrite", "MatViewRewrite",
        "EnumOrderRewrite"), graftRules)
    }
  }

  test("query sessions trust single-file bucket sort order; file " +
      "sessions keep Spark's default") {
    val key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    // opened through GraftSession.builder
    assert(SparkSpec.session.conf.get(key) == "true")
    assert(GraftSession.querySessionConfs.get(key).contains("true"))
    // GraftSession.files sets the base confs only (a second session
    // cannot be opened in this JVM: getOrCreate() joins the first)
    assert(!GraftSession.baseConfs.contains(key))
  }
}
