package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core.MiniJson
/** Driver-run correctness dump: each SparkEntry.gates result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs just those
    // queries (the driver leaves it unset → full dump)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val gates = SparkEntry.gates.filter(g => only.forall(_.contains(g.name)))
    gates.foreach { g =>
      try g.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
    }
    // one oracle per gate run: a gate that threw has no result dir, and
    // tools/check_oracle.py counts that as a failure
    val json = gates.map(g => s"${MiniJson.quote(g.name)}: ${MiniJson.quote(g.oracle)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
