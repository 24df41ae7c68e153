package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll

import graft.engine.{Functions, GraftExtensions}

/** The README's deployment path: a session configured only with
  * `GraftExtensions`, never passed through `Session.prepare`, must resolve
  * every function in the table and run the SQL surface (inherited from
  * [[SqlSurfaceSpec]]), as-of rewrite included.
  */
class ExtensionsOnlySpec
    extends SqlSurfaceSpec(ExtensionsOnlySpec.session) with BeforeAndAfterAll {

  test("every function in the table resolves") {
    val missing = Functions.all.map(_._1.funcName)
      .filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved: ${missing.mkString(", ")}")
  }

  // The session shares the suite-wide SparkContext; hand the shared test
  // session its active/default role back for the suites that follow.
  override def afterAll(): Unit = {
    SparkSession.setActiveSession(TestSpark.spark)
    SparkSession.setDefaultSession(TestSpark.spark)
    super.afterAll()
  }
}

object ExtensionsOnlySpec {
  private lazy val session: SparkSession = {
    TestSpark.spark // the SparkContext (master, confs) comes from here
    SparkSession.builder().withExtensions(new GraftExtensions).create()
  }
}
