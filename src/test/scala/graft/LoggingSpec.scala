package graft

import org.apache.logging.log4j.LogManager

/** Test logging runs at WARN (src/test/resources/log4j2.properties),
  * and [[CodegenFallbackGuard]] still sees Spark's WARN lines under it.
  */
class LoggingSpec extends SparkSpec {

  test("test logs run at WARN and the codegen fallback guard still fires") {
    spark // the guard is installed with the session
    assert(!LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler").isInfoEnabled)
    LogManager.getLogger("org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback")
      .warn("Expr codegen error and falling back to interpreter mode (LoggingSpec probe)")
    // assertClean drains what it reports, so the probe fails no suite
    val e = intercept[AssertionError](CodegenFallbackGuard.assertClean("LoggingSpec"))
    assert(e.getMessage.contains("LoggingSpec probe"))
  }
}
