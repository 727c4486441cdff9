package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The schema of a parquet file or folder whose schema depends on the
  * data it holds (a BM25 postings' `doc_id` type, a stats manifest's
  * `__min_<c>` columns, a testdata table written outside Spark), read
  * from ONE footer on the driver — no Spark job. `spark.read.parquet`
  * without a schema launches a schema-inference job per resolution;
  * every read of a file graft wrote takes a declared or committed
  * schema instead, and this is the fallback for the rest.
  *
  * The footer is decoded exactly as Spark's inference decodes it
  * (`ParquetFileFormat.readSchemaFromFooter`): the schema Spark
  * recorded under its row-metadata key when Spark wrote the file, else
  * the parquet schema converted under the session's settings (so
  * `nanosAsLong`, `inferTimestampNTZ` and friends apply). A folder is
  * read through its first data file by name — graft's folders hold one
  * schema (appends are drift-guarded). Every field comes back nullable,
  * as from inference: Spark's file sources read every column as
  * nullable whatever the writer recorded. */
object ParquetFooter {

  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file =
      if (st.isFile) st
      else fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getLen > 0 && {
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
        .sortBy(_.getPath.getName).headOption
        .getOrElse(throw new IllegalArgumentException(
          s"no parquet data file under $path to read a schema from"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try nullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      .asInstanceOf[StructType]
    finally reader.close()
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}
