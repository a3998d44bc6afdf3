package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table registry over the harness parquet star schema (TESTDATA.md).
  *
  * Mirrors the reference's "source registry" idea (SURVEY.md §2.1 S1-S3:
  * `/root/reference/src/export_from_fieldmap/query_fieldmap.Rmd:139-154`
  * dispatches an ODBC driver per file extension). Here the registry
  * dispatches on table name -> parquet path; a production deployment
  * would add jdbc/csv entries to the same map.
  *
  * The harness regenerates `/root/testdata` between rounds and physical
  * encodings have drifted (`events.ts` flipped INT64-nanos → micros in
  * round 10, silently breaking ten queries). Every batch read therefore
  * goes through [[normalize]], a per-table hook that adapts KNOWN
  * encoding drifts to the Spark-level schema downstream code assumes and
  * fails loudly — naming table, column, observed and expected type — on
  * anything new. `TablesSchemaSpec` pins the observed encodings.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark-level schema downstream consumers assume, post-normalization.
    * Integral widths are nominal: a width flip in the testdata is kept
    * as observed (the DuckDB oracle reads the same physical width, so
    * forcing ours would desync the compared output schemas). */
  val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** OBSERVED parquet schema per path, memoized (r22): without it
    * every `load` ran a footer schema-inference job — ~30 ms ×
    * (tables per query) × (231 queries × bench passes) of pure fixed
    * overhead. An entry is valid only for the bytes it was inferred
    * from: it carries the path's [[stamp]], and a path rewritten in
    * the same JVM (new length or mtime) is inferred again. This caches
    * SCHEMA METADATA only; every query still computes its results from
    * the parquet bytes. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long, Long), StructType)]()

  /** (file count, total bytes, newest mtime) of the files at `path` —
    * the file itself, or every file under a parquet directory; None
    * when the path does not exist. Walks `listStatus`, not
    * `listFiles`: the latter's located statuses read each file's
    * permissions, which the local file system does by forking a
    * process per file. */
  private def stamp(spark: SparkSession, path: String): Option[(Long, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var n, bytes, mtime = 0L
    def walk(q: org.apache.hadoop.fs.Path): Unit = fs.listStatus(q).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else { n += 1; bytes += f.getLen; mtime = math.max(mtime, f.getModificationTime) }
    }
    try { walk(p); Some((n, bytes, mtime)) }
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The observed (pre-[[normalize]]) schema of `<dir>/<name>.parquet`,
    * inferred once per JVM for each state of its files. */
  def observedSchema(spark: SparkSession, dir: String, name: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    stamp(spark, path) match {
      case None => spark.read.parquet(path).schema // fails with Spark's own error
      case Some(st) =>
        schemaCache.compute(path, (_, cached) =>
          if (cached != null && cached._1 == st) cached
          else (st, spark.read.parquet(path).schema))._2
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // nanosAsLong lets an INT64 TIMESTAMP(NANOS) column (one of the
    // observed events.ts generations) surface as a raw long instead of
    // failing the read; all other encodings are unaffected.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(name, spark.read.schema(observedSchema(spark, dir, name))
      .parquet(s"$dir/$name.parquet"))
  }

  /** Adapt every column of `df` to [[expected]] where a deterministic
    * adaptation for a KNOWN drift class exists; throw loudly otherwise.
    *
    * Known classes (each keeps the DuckDB oracle — which reads the same
    * file — in agreement):
    *   - raw-nanos long → TIMESTAMP via floor to micros (DuckDB floors
    *     TIMESTAMP_NS → epoch_us the same way);
    *   - TIMESTAMP_NTZ → TIMESTAMP (exact under the UTC session tz, and
    *     required by event-time features — `withWatermark` rejects NTZ);
    *   - DATE → TIMESTAMP (midnight UTC; consumers always re-cast);
    *   - integral width flips kept AS OBSERVED (see [[expected]]);
    *   - float → double (value-preserving widen);
    *   - array<double> → array<float> (typed `Array[Float]` consumers);
    *   - decimal → double (keeps code running; `TablesSchemaSpec`'s
    *     strict pin still flags it for review).
    * Extra observed columns pass through appended; a missing expected
    * column is a loud failure. */
  def normalize(name: String, df: DataFrame): DataFrame =
    expected.get(name) match {
      case None => df
      case Some(want) =>
        val obs = df.schema
        val missing = want.map(_._1).filterNot(obs.fieldNames.contains)
        if (missing.nonEmpty) throw new IllegalStateException(
          s"testdata drift: table '$name' is missing expected column(s) " +
            s"${missing.mkString(", ")}; observed ${obs.simpleString}. " +
            "The harness regenerated /root/testdata with a new layout - " +
            "review every consumer, then re-pin Tables.expected.")
        val adapted = want.map { case (c, w) => adapt(name, c, obs(c).dataType, w) }
        val extras = obs.fieldNames.filterNot(want.map(_._1).contains).map(col)
        df.select((adapted ++ extras).toIndexedSeq: _*)
    }

  /** Integral family (width flips within it are kept as observed). */
  def isIntegral(t: DataType): Boolean =
    t == ByteType || t == ShortType || t == IntegerType || t == LongType

  private def adapt(table: String, name: String, obs: DataType, want: DataType): Column =
    (obs, want) match {
      case (o, w) if o == w => col(name)
      case (LongType, TimestampType) =>
        timestamp_micros(expr(s"`$name` div 1000")).as(name)
      case (TimestampNTZType, TimestampType) | (DateType, TimestampType) =>
        col(name).cast(TimestampType).as(name)
      case (o, w) if isIntegral(o) && isIntegral(w) =>
        col(name) // width flip: keep observed (oracle parity)
      case (FloatType, DoubleType) | (_: DecimalType, DoubleType) =>
        col(name).cast(DoubleType).as(name)
      case (ArrayType(DoubleType, _), ArrayType(FloatType, _)) =>
        col(name).cast(ArrayType(FloatType)).as(name)
      case (o, w) => throw new IllegalStateException(
        s"testdata drift: table '$table' column '$name' read as " +
          s"${o.simpleString} but downstream code expects ${w.simpleString} " +
          "and no known adaptation applies. The harness regenerated " +
          "/root/testdata with a new encoding - add a case to " +
          "Tables.adapt (and a TablesSchemaSpec fixture) after reviewing " +
          "every consumer of this column.")
    }

  /** Adapt `ts` to a proper TIMESTAMP on the OBSERVED type (the events
    * slice of [[normalize]], kept callable on its own for the streaming
    * read in `SparkEntry.eventsStream`, which must wrap a `readStream`
    * DataFrame rather than a path). */
  def normalizeEventsTs(spark: SparkSession, df: DataFrame): DataFrame =
    df.withColumn("ts", adapt("events", "ts", df.schema("ts").dataType, TimestampType))

  /** Lowercase-normalize all column names — the reference lowercases after
    * every fetch (`query_fieldmap.Rmd:156,203-204,251`). */
  def lowercased(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toIndexedSeq: _*)
}
