package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's parquet schema derivation, so the engine can
  * read a table's schema from one footer on the driver instead of
  * through Spark's schema-inference job — the same pattern as
  * [[org.apache.spark.sql.GraftPlanBridge]]. The conversion is the one
  * the inference job runs per footer: the Spark schema stored in the
  * footer's metadata when present, else the parquet schema converted
  * under the session's parquet confs (`nanosAsLong`,
  * `binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`, ...).
  */
object GraftFooterBridge {
  def schema(s: SparkSession, footer: Footer): StructType = {
    val conf = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(conf))
  }
}
