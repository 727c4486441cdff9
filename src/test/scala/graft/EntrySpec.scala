package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import SparkEntry.Gate

/** Smoke: every declared query runs at sf0.001 and the flagship returns
  * rows. The full value-level oracle comparison runs via Verify + DuckDB
  * (tools/check_oracle.py / the driver's t2 gate). */
class EntrySpec extends SparkSpec {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("gate registry: 232 distinct names, each with an oracle") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 232)
    assert(names.distinct.size == names.size)
    // a null oracle here means the registry read a shared oracle CTE
    // before the object initialised it
    val blank = SparkEntry.gates.collect {
      case g if g.oracle == null || g.oracle.trim.isEmpty => g.name
    }
    assert(blank.isEmpty)
  }

  test("a registry with a repeated gate name is refused, naming it") {
    val plan: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Gate("twice", plan, "SELECT 1"), Gate("once", plan, "SELECT 1"),
        Gate("twice", plan, "SELECT 2"))
    }
    assert(e.getMessage.contains("twice"))
    assert(!e.getMessage.contains("once"))
  }

  test("every golden-parquet oracle reads a file under this checkout's golden/") {
    val golden = s"${sys.props("user.dir")}/golden/"
    val read = "read_parquet\\('([^']*golden/[^']*)'\\)".r
    val paths = SparkEntry.gates.flatMap(g => read.findAllMatchIn(g.oracle).map(_.group(1)))
    assert(paths.size == 5, paths.mkString(", "))
    paths.foreach { p =>
      assert(p.startsWith(golden) && new java.io.File(p).isFile, s"$p is not a file under $golden")
    }
  }

  SparkEntry.gates.sortBy(_.name).foreach { g =>
    test(s"query ${g.name} runs at sf0.001") {
      val df = g.plan(spark, sf0)
      assert(df.columns.nonEmpty)
      df.count() // executes the plan
    }
  }
}
