package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataFrame over a DSv2 table object that no catalog or provider
  * resolves — the one Spark-internal call the snapshot read needs,
  * `Dataset.ofRows`, is package-private to `org.apache.spark.sql`
  * (Delta and Iceberg bridge it the same way). */
object GraftFrames {
  def of(spark: SparkSession, table: Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None,
        CaseInsensitiveStringMap.empty()))
}
