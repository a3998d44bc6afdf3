package graft.core

import graft.io.{Csv2, Vc}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source registry (SURVEY.md §2.1 S1-S7): the reference dispatches an
  * ODBC driver per database file extension
  * (`/root/reference/src/export_from_fieldmap/query_fieldmap.Rmd:139-154`);
  * here every input is a declared [[Source]] and pipelines resolve
  * tables by name — swapping a CSV fixture for the production JDBC
  * database is a registry entry, not a code change.
  *
  * JDBC sources push the query down to the engine (S1's hand-written
  * SQL stays server-side; Catalyst adds filter/projection pushdown on
  * top). Schemas are always declared for file sources — never
  * `inferSchema` (§1.3).
  */
sealed trait Source {
  def load(spark: SparkSession): DataFrame
}

/** S1: JDBC with a pushed-down query (`sqlQuery` equivalent). */
final case class JdbcQuerySource(url: String, query: String,
                                 properties: Map[String, String] = Map.empty) extends Source {
  def load(spark: SparkSession): DataFrame = {
    val reader = spark.read.format("jdbc").option("url", url).option("query", query)
    properties.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }.load()
  }
}

/** S1 with reference-style dialect dispatch (see [[DbDialects]]): the
  * query text is a function of the resolved dialect (the reference
  * keeps a hand-written variant per backend,
  * `query_fieldmap.Rmd:139-154`), and returned column names are
  * lowercased like `query_fieldmap.Rmd:156` so downstream code is
  * backend-agnostic. */
final case class DialectQuerySource(db: String,
                                    queryFor: DbDialect => String,
                                    dialect: Option[DbDialect] = None) extends Source {
  def load(spark: SparkSession): DataFrame = {
    val d = dialect.getOrElse(DbDialects.forDatabaseFile(db))
    val df = JdbcQuerySource(d.jdbcUrl(db), queryFor(d), d.connectionProperties).load(spark)
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
  }
}

/** Lowercase-normalizing wrapper: engines that uppercase unquoted
  * identifiers (Derby, Firebird, Oracle) return shouting column names;
  * the reference lowercases every extract the same way
  * (`query_fieldmap.Rmd:156`) so downstream code is backend-agnostic.
  * Pure rename — Catalyst still prunes/pushes through it. */
final case class LowercaseSource(inner: Source) extends Source {
  def load(spark: SparkSession): DataFrame = {
    val df = inner.load(spark)
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
  }
}

/** S2: whole-table JDBC fetch (`sqlFetch` equivalent). */
final case class JdbcTableSource(url: String, table: String,
                                 properties: Map[String, String] = Map.empty) extends Source {
  def load(spark: SparkSession): DataFrame = {
    val reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    properties.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }.load()
  }
}

/** S4: semicolon-CSV with decimal commas, declared schema. */
final case class Csv2Source(path: String, schema: StructType) extends Source {
  def load(spark: SparkSession): DataFrame = Csv2.read(spark, path, schema)
}

/** S5: versioned table (schema + hash verified sidecar). */
final case class VcSource(base: String) extends Source {
  def load(spark: SparkSession): DataFrame = Vc.read(spark, base)
}

final case class ParquetSource(path: String) extends Source {
  def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

/** JSON-lines with a declared schema (crawl-drop ingestion format for
  * the §2.11 corpus pipeline; never `inferSchema` — §1.3 applies to
  * every text format). Malformed lines land in NULL rows rather than
  * failing the scan (PERMISSIVE), so a bad record is a filterable
  * data-quality fact, not a task failure. The registry facade keeps
  * the declared schema unchanged; for the audit-grade ingest surface
  * — corrupt lines captured WHOLE in `_corrupt_record`, a FAILFAST
  * strict twin, and the gzip shard writer — use [[graft.io.Jsonl]]
  * (q209's oracle-gated round trip). */
final case class JsonLinesSource(path: String, schema: StructType) extends Source {
  def load(spark: SparkSession): DataFrame =
    spark.read.schema(schema).json(path)
}

/** ORC table (columnar interchange with Hive-era warehouses). */
final case class OrcSource(path: String) extends Source {
  def load(spark: SparkSession): DataFrame = spark.read.orc(path)
}

/** Avro container shards (the row-oriented lake/streaming interchange
  * format — Kafka dumps, CDC extracts; parsed with avro-core over
  * per-shard-file bytes since the jar set has no spark-avro connector,
  * see [[graft.io.Avro]]). Supplied schema = Avro READER schema, so
  * pruning/reordering ride Avro's own resolution rules. */
final case class AvroSource(path: String, schema: StructType) extends Source {
  def load(spark: SparkSession): DataFrame =
    graft.io.Avro.read(spark, path, schema)
}

/** S6: ESRI shapefile layer (attributes + WKB `geometry`). */
final case class ShapefileSource(base: String) extends Source {
  def load(spark: SparkSession): DataFrame = graft.geo.Shapefile.read(spark, base)
}

/** S7: GeoPackage feature table (attributes + bare-WKB geometry). */
final case class GeoPackageSource(path: String, table: String) extends Source {
  def load(spark: SparkSession): DataFrame =
    graft.geo.GeoPackage.read(spark, path, table)
}

/** Named lookup, immutable — build one per pipeline run. */
final case class SourceRegistry(sources: Map[String, Source]) {
  def load(spark: SparkSession, name: String): DataFrame =
    sources.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown source '$name'; registered: ${sources.keys.toSeq.sorted.mkString(", ")}"))
      .load(spark)

  def withSource(name: String, s: Source): SourceRegistry =
    copy(sources = sources + (name -> s))
}
