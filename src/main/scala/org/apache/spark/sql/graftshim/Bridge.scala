package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. Spark 4 split `Column` (sql-api)
  * from `Expression` (catalyst) and made the converters `private[sql]`;
  * extension libraries that define native expressions need this one-file
  * shim inside the sql package to expose them. The lakehouse's read
  * planning also uses it for two `private[sql]` parquet-schema steps. No
  * Spark internals are modified — this only re-exports them.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The Spark schema each parquet data file's footer declares — exactly
    * what `mergeSchema` inference derives per file: the row-metadata
    * schema Spark stored at write time, else the converted parquet
    * schema under the session's conversion settings. Driver-side, one
    * footer read per file on up to 8 threads (Spark's own footer-reading
    * fan-out), no Spark job. */
  def parquetFooterSchemas(spark: org.apache.spark.sql.SparkSession,
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.Path]): Seq[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val converter = new ParquetToSparkSchemaConverter(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf)
    def one(file: org.apache.hadoop.fs.Path) = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      val footer = try rd.getFooter finally rd.close()
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(file, footer), converter)
    }
    if (files.size <= 1) files.map(one)
    else org.apache.spark.util.ThreadUtils.parmap(files, "graft-footer-schema", 8)(one)
  }

  /** `StructType.merge` (private[sql]) with the session's case
    * sensitivity — the pairwise step of `mergeSchema` inference. */
  def mergeSchemas(spark: org.apache.spark.sql.SparkSession,
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    a.merge(b, spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.caseSensitiveAnalysis)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
