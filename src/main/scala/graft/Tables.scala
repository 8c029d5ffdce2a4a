package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Catalog for the driver test tables (TESTDATA.md / FIXTURES.md §1).
  *
  * Mirrors the reference's schema-file-as-catalog design (reference:
  * `src/migrate.ts:19-30` — a Prisma schema parsed to a model list that
  * drives the pipeline): here the catalog is an explicit StructType
  * registry and the table list is the registry key set. Rows stay
  * dynamically typed (`DataFrame` = `Dataset[Row]`), matching the
  * reference's `rows: any[]` data plane (`src/migrate.ts:41`).
  *
  * Scale posture: at 100 TB these are partitioned tables (history/fact
  * tables partitioned by event date, bucketed by join key); readers
  * must keep projections/filters early so Catalyst pushes them into
  * the parquet scan (check `PushedFilters`/`ReadSchema` in explain).
  */
object Tables {

  /** Explicit schemas — used for streaming reads (which require a
    * declared schema) and as the catalog of record. Batch reads use
    * the parquet footer but must agree with these.
    */
  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
  )

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Existence-guarded read (reference: `src/migrate.ts:43-46` checks
    * the model exists in the client before scanning).
    *
    * events.ts has shipped as parquet TIMESTAMP(NANOS) (read as a raw
    * long under `spark.sql.legacy.parquet.nanosAsLong`) and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ);
    * both generations are normalized here to a micros TimestampType so
    * every downstream operator sees one type. The physical schema is
    * inferred once per file version and JVM (see [[readParquet]]).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name, schemas)

  /** Catalog-parameterized form: the same existence guard and read,
    * but against a caller-supplied registry — the schema-text path
    * ([[SchemaCatalog.parse]]) feeds the migrate pipeline through
    * here without touching the built-in registry.
    */
  def load(spark: SparkSession, dir: String, name: String,
           catalog: Map[String, StructType]): DataFrame = {
    require(catalog.contains(name), s"unknown table: $name")
    val df = readParquet(spark, s"$dir/$name.parquet")
    val wantsTs = catalog(name).fields.exists(f =>
      f.name == "ts" && f.dataType == TimestampType)
    if (wantsTs && df.columns.contains("ts") &&
        df.schema("ts").dataType != TimestampType)
      normalizeEventTs(df)
    else df
  }

  /** Inferred (physical) Parquet schema per path, with the stamp it was
    * inferred under: the path's listing (name, length, modification
    * time of each file) and the session's Parquet settings. Inference
    * is a footer-scan job on every `spark.read.parquet`; with the
    * schema passed in, a read of an unchanged file runs none. A
    * rewrite changes the listing, so the next load infers again.
    */
  private type Stamp = (Seq[(String, Long, Long)], Map[String, String])

  private val inferredSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]()

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val listing =
      try Some(fs.listStatus(p).toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted)
      catch { case _: java.io.FileNotFoundException => None }
    listing match {
      // a missing path fails in the reader, with its usual error
      case None => spark.read.parquet(path)
      case Some(files) =>
        val stamp: Stamp = (files, spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.") })
        val schema = inferredSchemas.compute(fs.makeQualified(p).toString,
          (_, old) =>
            if (old != null && old._1 == stamp) old
            else (stamp, spark.read.parquet(path).schema))._2
        spark.read.schema(schema).parquet(path)
    }
  }

  /** Physical-`ts` → micros TimestampType — the single place the
    * normalization convention lives (batch and streaming readers share
    * it). Long input is the legacy nanos encoding (truncated to
    * micros); TIMESTAMP_NTZ input is reinterpreted as UTC, which is
    * instant-preserving because every session in this project pins
    * `spark.sql.session.timeZone=UTC` — the same convention DuckDB
    * applies when it reads the naive parquet timestamps, so both
    * engines agree on epoch arithmetic.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => df
    }
}
