package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  test("GraftSession is the only session builder in src/main and src/test") {
    // the fixture generator shares no code with graft by design, and this
    // spec names the pattern
    val allowed = Set("GraftSession.scala", "FixtureGen.scala", "GraftSessionSpec.scala")
    val pattern = "SparkSession.builder"
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"),
      s"scan found no sources under ${Paths.get("").toAbsolutePath}")
    val builders = sources.filter(p => Files.readString(p).contains(pattern))
      .filterNot(p => allowed(p.getFileName.toString))
    assert(builders.isEmpty,
      s"sessions must come from GraftSession, found a builder in: ${builders.mkString(", ")}")
  }

  test("isolate drops persisted data and the SQL cache") {
    val df = spark.range(100).selectExpr("id * 2 AS x").persist()
    df.count()
    spark.range(10).createOrReplaceTempView("graft_session_isolate")
    spark.catalog.cacheTable("graft_session_isolate")
    spark.table("graft_session_isolate").count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(!spark.sharedState.cacheManager.isEmpty)

    GraftSession.isolate(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(!spark.catalog.isCached("graft_session_isolate"))
  }
}
