package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Reference twin of the batch change-feed read, kept independent of
  * [[Versioned.readChangesPruned]]: ONE scan over the whole `_changes`
  * root (Spark discovers every `cv=`/`ct=` dir) narrowed by a filter
  * on the `cv` partition column, then the feed's logical renames.
  * `tableSchema` is the table's schema; valid for tables whose
  * columns were never renamed, where the feed files carry the
  * logical names. */
object WholeRootFeed {
  def read(spark: SparkSession, path: String, tableSchema: StructType,
      vFrom: Int, vTo: Int): DataFrame = {
    val root = java.nio.file.Paths.get(path, "_changes").toString
    val schema = StructType(tableSchema.fields ++
      Seq(StructField("cv", IntegerType), StructField("ct", StringType)))
    spark.read.schema(schema).option("basePath", root).parquet(root)
      .withColumnRenamed("cv", "_commit_version")
      .withColumnRenamed("ct", "_change_type")
      .filter(col("_commit_version").between(vFrom, vTo))
  }
}
