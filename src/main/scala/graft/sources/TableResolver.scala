package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source abstraction: table name → DataFrame. Replaces the reference's
  * Cassandra keyspace + `system_schema.columns` catalog fetch
  * (reference: cassandra_joinlib/utils.py:461-472) — in Spark, schema comes
  * free from the source.
  *
  * Implementations must be cheap to call repeatedly: the join facade
  * resolves every table of a pipeline on each `execute()`, and callers
  * build a fresh resolver per pipeline. The returned DataFrame is a plan,
  * not data. A catalog resolves names from metadata it already holds;
  * [[ParquetResolver]] keeps the schema in [[Sources]], which infers it
  * again only when the table's file listing (names, lengths, mtimes) or
  * the session's parquet settings change.
  */
trait TableResolver {
  def resolve(spark: SparkSession, table: String): DataFrame
}

/** Reads `<dir>/<table>.parquet` — the driver's testdata layout.
  * On a real deployment this would be swapped for a catalog-backed resolver
  * (e.g. the Spark Cassandra Connector's `CassandraCatalog`), with no change
  * to the executor facade.
  *
  * The schema is inferred once per table version and held by the
  * [[Sources]] object, not by this instance, so resolvers built per
  * pipeline share it. Every call lists the table's files anew.
  */
final class ParquetResolver(dir: String) extends TableResolver {
  override def resolve(spark: SparkSession, table: String): DataFrame =
    Sources.parquet(spark, s"$dir/$table.parquet")
}

/** Resolver over pre-registered DataFrames — used by tests to join
  * hand-built fixtures through the same facade code path.
  */
final class InMemoryResolver(tables: Map[String, DataFrame]) extends TableResolver {
  override def resolve(spark: SparkSession, table: String): DataFrame =
    tables.getOrElse(table,
      throw new IllegalArgumentException(s"unknown table '$table'"))
}

/** Catalog-backed resolver: table names resolve against a Spark catalog
  * namespace — `spark.table("<catalog>.<keyspace>.<table>")`. This is the
  * Spark-native shape of the reference's keyspace binding (the reference
  * opens a Cassandra session on one keyspace and reads
  * `system_schema.columns` for metadata, join_executor.py:24-29 +
  * utils.py:461-472; a Spark catalog provides both name resolution and
  * schema).
  *
  * Production: register the Spark Cassandra Connector's `CassandraCatalog`
  * under `namespace = Seq(catalogName, keyspace)` (see [[CassandraConfig]]
  * for the exact settings — the connector jar is not shipped here, the
  * contract is catalog-shaped on purpose). Tests: the session catalog
  * (temp views, `namespace = Nil`; or a database) exercises the identical
  * resolution path, so the facade is provably source-agnostic.
  */
final class CatalogResolver(namespace: Seq[String] = Nil) extends TableResolver {
  private def quote(part: String): String = "`" + part.replace("`", "``") + "`"
  override def resolve(spark: SparkSession, table: String): DataFrame =
    spark.table((namespace :+ table).map(quote).mkString("."))
}
