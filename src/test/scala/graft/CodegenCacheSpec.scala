package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** The session's codegen class cache holds a program's working set: a
  * plan run again after many others compiles nothing. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a query rerun after more than 100 other compiles compiles nothing") {
    def query(): Unit = spark.range(0, 5000)
      .select((col("id") % 7).as("k"), col("id"))
      .groupBy("k").agg(sum("id"), max("id")).collect()
    query()
    val before = compiles
    // 120 distinct classes: each literal is inlined into its own source
    (1 to 120).foreach { k =>
      spark.range(0, 10)
        .select((col("id") * lit(k.toLong) + lit(7919L * k)).as("v"))
        .collect()
    }
    val others = compiles - before
    assert(others > 100, s"only $others compiles in between")
    val t0 = CodeGenerator.compileTime
    val c0 = compiles
    query()
    assert(compiles - c0 == 0L && CodeGenerator.compileTime - t0 == 0L,
      s"the rerun compiled ${compiles - c0} classes " +
        s"(${(CodeGenerator.compileTime - t0) / 1e6} ms)")
  }
}
