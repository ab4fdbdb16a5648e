package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[parquet]` footer → schema rule, so graft
  * resolves a parquet relation's data schema without a Spark job from a footer
  * it already holds (same pattern as `GraftShim`). */
object GraftParquetShim {
  /** The data schema Spark's own inference derives from this one footer
    * — the writer's Spark row-metadata schema when present, else the
    * converted parquet schema — under the session's parquet read confs
    * as they stand at call time (`nanosAsLong`, `binaryAsString`, ...).
    * All-nullable, as every file relation's data schema is. */
  def footerSchema(s: SparkSession, path: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf)).asNullable
}
