package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Column ↔ catalyst Expression bridge, plus a parquet scan over a
  * caller-built file index.
  *
  * Spark 4 unified `Column` behind ColumnNode and made the conversion
  * helpers `private[sql]`; extension libraries (this one included) get at
  * them the standard way — a shim declared under `org.apache.spark.sql`.
  * [[parquetScan]] lives here for the same reason: `StructType.asNullable`
  * (the nullability Spark's own file sources apply to a read schema) is
  * `private[spark]`; the relation and `baseRelationToDataFrame` are
  * public. Only public-API *shapes* are used; no internals are copied or
  * modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a builder in the session's temp function registry so the
    * expression is callable from SQL text as well as the Column API. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** A parquet DataFrame over `index` with a GIVEN schema — the relation
    * `spark.read.schema(…).parquet(…)` builds, minus its path listing
    * and footer inference. Output columns are `dataSchema` (made
    * nullable, as every file read is) then `partitionSchema`. */
  def parquetScan(spark: SparkSession, index: FileIndex,
      partitionSchema: StructType, dataSchema: StructType): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema.asNullable, bucketSpec = None, new ParquetFileFormat,
      options = Map.empty)(session))
  }
}
