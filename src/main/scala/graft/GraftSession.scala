package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the settings every graft job needs.
  *
  * Local mode runs with `spark.sql.shuffle.partitions` matched to the core
  * count instead of the 200 default; AQE stays on so the same plans re-split
  * and coalesce correctly on a real cluster at 100 TB.
  *
  * Generated classes are compiled once per program run, not once per
  * call. Spark's codegen class cache holds 100 entries by default, and
  * one `lifecycle` run of the benchmark (set-up plus a pass of the
  * dataset lifecycle, a Lakehouse CDC tick and maintenance) needs 324
  * entries — a class compiled on the driver and again in a task thread
  * takes two. Under the default the LRU evicted classes the next call
  * needed again: the pass compiled 401 classes in 5.1 s of Janino,
  * against 150 in 2.1 s with the working set held. 1,000 entries hold
  * about three such working sets, so a long-lived session over many
  * lake tables keeps its hot plans too, for a few MB of metaspace.
  * `useIdInClassName=false` leaves the whole-stage codegen stage id
  * out of the generated source, so one stage shape planned under
  * different AQE stage ids is one cache entry, not one per id. The
  * cache is a JVM-wide singleton sized when its first class compiles:
  * the size holds when this builder makes the JVM's first session.
  */
object GraftSession {
  def builder(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // runtime skew-join splitting: invisible at test SF, load-bearing at
      // 100 TB when a hot join key (popular content_hash, shared shingle)
      // would otherwise pin one reducer
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = builder().getOrCreate()
}

/** Loaders for the driver-generated testdata tables (TESTDATA.md). */
object Tables {
  import org.apache.spark.sql.functions._

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Schema cache for the STATIC testdata tables: one footer read on
    * the driver per (dir, table) per JVM, no Spark job — the metadata a
    * catalog would hold (schemas only; every query still scans the
    * parquet data itself on every invocation). Keyed by the resolved
    * path; testdata files are immutable inputs. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** events.parquet's `ts` encoding has varied across testdata
    * generations — TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects; `nanosAsLong` reads it as int64 ns, converted ns → µs with
    * integer `div`: ns epoch values exceed 2^53, a double-valued `/`
    * would corrupt them) and plain TIMESTAMP(MICROS) without UTC
    * adjustment (read natively as TIMESTAMP_NTZ). Normalize BOTH to the
    * session-zone TIMESTAMP the queries expect — sessions here pin UTC,
    * so the NTZ cast preserves the wall-clock instant DuckDB reads. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => graft.core.ParquetFooter.schema(spark, p))
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    else df
  }
}
