package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental task ledger — SURVEY.md §2.9 (I1–I4).
  *
  * The reference memoizes completed tasks in a KV cache keyed by
  * `{prefix}/{dataset}/{action}/{…}` (anycache; ftm_datalake/crawl.py:64-65,
  * make.py:32-34, docs/cache.md). Set-at-a-time equivalent: a `ledger`
  * table of completed task keys; candidates are anti-joined against it and
  * completions appended after the batch commits.
  *
  * Divergence note: anycache is at-least-once per task; the ledger batch is
  * anti-join → process → append, which is also at-least-once on failure
  * (re-run reprocesses the uncommitted tail) but exactly-once when a batch
  * commits atomically (parquet overwrite-by-directory).
  *
  * Scale: the anti-join shuffles task *keys* only; with both sides bucketed
  * by `task_key` it degenerates to a co-located merge.
  */
object Ledger {

  val schema = "task_key STRING, dataset STRING, action STRING, completed_at TIMESTAMP"

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(schema).parquet(path)
    else empty(spark)
  }

  /** I1: drop candidates whose task key is already in the ledger.
    * `respectCache=false` reproduces the reference's CACHE=0 mode (ledger
    * still populated by [[append]], but not consulted). */
  def pending(candidates: DataFrame, ledger: DataFrame, dataset: String,
              action: String, respectCache: Boolean = true): DataFrame = {
    if (!respectCache) candidates
    else {
      val done = ledger
        .filter(col("dataset") === dataset && col("action") === action)
        .select(col("task_key"))
      candidates.join(done, candidates("key") === done("task_key"), "left_anti")
    }
  }

  /** Append completions for a finished batch. */
  def append(completed: DataFrame, path: String, dataset: String, action: String): Unit =
    completed.select(
        col("key").as("task_key"),
        lit(dataset).as("dataset"),
        lit(action).as("action"),
        current_timestamp().as("completed_at"))
      .write.mode("append").parquet(path)
}
