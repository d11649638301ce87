package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The Spark row schema of one parquet file's footer, read the way
  * Spark's own parquet schema inference reads it (the row schema a
  * Spark writer stored in the footer's metadata, else the converted
  * parquet schema) — the `private[parquet]` read, without the
  * inference job around it.
  */
object ParquetFooterBridge {
  def schema(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchema(Seq(footer), spark).get
}
