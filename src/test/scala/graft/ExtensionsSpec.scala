package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions really injects the expression functions at session
  * build time (the `spark.sql.extensions` deployment path) — checked on a
  * fresh session sharing the test SparkContext, with the default session
  * restored afterwards. */
class ExtensionsSpec extends AnyFunSuite {

  test("withExtensions(new GraftExtensions) exposes graft_dot without register()") {
    val base = SparkSpec.spark // ensure the shared context exists
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val fresh = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(fresh ne base) // genuinely a new session (same JVM context)
      val dot = fresh.sql(
        "SELECT graft_dot(CAST(ARRAY(1.0, 2.0) AS ARRAY<FLOAT>), CAST(ARRAY(3.0, 4.0) AS ARRAY<FLOAT>))")
        .head().getDouble(0)
      assert(dot === 11.0)
      val jac = fresh.sql(
        "SELECT graft_sorted_jaccard(ARRAY(1L, 2L), ARRAY(2L, 3L))")
        .head().getDouble(0)
      assert(jac === 1.0 / 3.0)
      // the WHOLE expression surface is injected, not a hand-kept subset
      // (a SQL-only deployment has no way to call Graft.register): every
      // name in the shared builder list must resolve on this session
      Graft.sqlFunctionBuilders.foreach { case (name, _, _) =>
        assert(fresh.catalog.functionExists(name), s"$name not injected")
      }
      // KMV expects FULL-range xxhash64 values (unsigned 2^64 domain)
      val est = fresh.sql(
        "SELECT graft_kmv_estimate(graft_kmv_sketch(xxhash64(CAST(id AS STRING)))) " +
          "FROM RANGE(500)").head().getLong(0)
      assert(est > 300L && est < 700L, s"kmv estimate off: $est")
      // wrong arity is a descriptive resolution-time error, not a raw
      // IndexOutOfBoundsException from es(1)
      val e = intercept[Exception] {
        fresh.sql("SELECT graft_dot(CAST(ARRAY(1.0) AS ARRAY<FLOAT>))").head()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("expects exactly 2"), msgs)
      // the IVF serving operator is planned without its first-use setup
      assert(fresh.sessionState.planner.strategies
        .contains(graft.operators.ProbeTopKStrategy))
      assert(!fresh.experimental.extraStrategies
        .contains(graft.operators.ProbeTopKStrategy))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
