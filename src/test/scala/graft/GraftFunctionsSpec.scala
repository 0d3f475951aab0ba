package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.{GraftExtensions, GraftFunctions}

/** The graft SQL functions come from one list: a live session
  * registers it once, and an extensions-built session injects it. */
class GraftFunctionsSpec extends SparkSpec {

  test("one declaration per function; a repeat register keeps every " +
      "registered builder") {
    val names = GraftFunctions.all.map(_._1.funcName)
    assert(names.distinct == names,
      s"declared twice: ${names.diff(names.distinct)}")
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    val reg = spark.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (id, _, builder) =>
      assert(reg.lookupFunctionBuilder(id).exists(_ eq builder),
        s"${id.funcName} does not resolve to its declared builder")
    }
  }

  test("a GraftExtensions session resolves every graft function, " +
      "graft_porter included, without a register call") {
    // the shared test session is the default one; clear it so the
    // builder makes a second session (same SparkContext) that carries
    // the extensions, then restore it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      try SparkSession.builder().withExtensions(new GraftExtensions)
        .getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(ext ne spark)
    val reg = ext.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (id, _, builder) =>
      assert(reg.lookupFunctionBuilder(id).exists(_ eq builder),
        s"${id.funcName} not injected")
    }
    assert(reg.lookupFunctionBuilder(FunctionIdentifier("graft_porter"))
      .nonEmpty)
    val stem = "SELECT graft_porter('relations')"
    GraftFunctions.register(spark)
    assert(ext.sql(stem).head().getString(0) ==
      spark.sql(stem).head().getString(0))
  }
}
