package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** JSONL (one JSON document per line) source — the de-facto ingest
  * format of web-scale text corpora — read against the engine's
  * declared `documents` schema with corrupt-record QUARANTINE rather
  * than silent drop.
  *
  * Scale posture: the schema comes from the catalog (`Tables.schemas`)
  * so there is NO inference pre-scan of 100 TB; parsing is
  * per-partition streaming; malformed lines land in an audit frame
  * (the poison-pill discipline of `KafkaShaped`, applied to files).
  * One materialization (`Iterate.cut`) feeds both outputs — also
  * sidestepping Spark's restriction on queries that select only the
  * internal corrupt-record column from a raw JSON scan.
  */
object Jsonl {

  /** Read `path` as documents-shaped JSONL. Returns (clean, quarantine):
    * clean rows carry the catalog schema; quarantine rows carry the
    * raw offending line VERBATIM in `raw_line`. A line is quarantined
    * if it is unparseable OR parses without the required key (`doc_id`
    * null — JSON nulls and missing keys are indistinguishable
    * post-parse, and a document without an id cannot enter the
    * pipeline).
    *
    * Reads as text + `from_json` rather than `spark.read.json` so the
    * original line survives for EVERY quarantined record — the json
    * reader's corrupt-record column only covers malformed lines, and
    * re-serializing a parsed-but-id-less row would drop unknown keys
    * and null fields, making the audit frame unable to replay the
    * record it exists to preserve.
    */
  def readDocuments(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.StringType
    // corrupt-record column INSIDE from_json: a parseable line whose
    // field fails the schema's type (e.g. a string n_chars) must
    // quarantine too, not flow through with the field silently nulled
    val schema = Tables.schemas("documents").add("_corrupt_record", StringType)
    val raw = spark.read.text(path)
      // blank lines are shard-concatenation artifacts, not records:
      // skipped entirely (neither clean nor quarantined)
      .filter(length(trim(col("value"))) > 0)
      .withColumn("parsed", from_json(col("value"), schema, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .transform(graft.Iterate.cut)
    val bad = col("parsed").isNull ||
      col("parsed._corrupt_record").isNotNull || col("parsed.doc_id").isNull
    val clean = raw.filter(!bad).select(col("parsed.*")).drop("_corrupt_record")
    val quarantine = raw.filter(bad).select(col("value").as("raw_line"))
    (clean, quarantine)
  }

  /** Write a documents frame as JSONL (what `spark.write.json` emits:
    * one object per line) — the round-trip twin of [[readDocuments]].
    */
  def writeDocuments(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** SIZE-BUDGETED sharded JSONL writer: serialize each row once,
    * measure the exact line bytes, assign rows to shards by the
    * GLOBAL cumulative byte count in doc_id order (so shard contents
    * are deterministic and re-runs are byte-identical), and write one
    * `shard=N` directory per shard. A shard closes when the next line
    * would start past the budget boundary, so no shard exceeds
    * `maxBytesPerShard` by more than one line — the training-data
    * shard contract (loaders want same-sized files; stragglers come
    * from fat shards).
    *
    * The cumulative sum uses the [[graft.operators.Skew.globalRank]]
    * discipline — range exchange on doc_id, per-partition byte totals
    * (a metadata-sized collect, one row per partition) prefix-summed
    * into offsets, in-partition running sums in parallel — NEVER a
    * single-partition global window.
    *
    * Returns the manifest (shard, n_rows, n_bytes) the spec reconciles
    * against the files on disk.
    */
  def writeShardedDocuments(df: DataFrame, path: String,
                            maxBytesPerShard: Long): DataFrame = {
    require(maxBytesPerShard > 0, "shard budget must be positive")
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    val cols = df.columns
    val withBytes = df
      .withColumn("__line", to_json(struct(cols.map(col): _*)))
      .withColumn("__bytes", octet_length(col("__line")).cast("long") + 1L)
    val parted = withBytes
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("__pid", spark_partition_id())
      .transform(graft.Iterate.cut) // consumers: partition stats + the write
    val stats = parted.groupBy(col("__pid"))
      .agg(sum(col("__bytes")).as("b"))
      .collect() // one row PER PARTITION — metadata-sized by design
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = stats.scanLeft((0, 0L)) { case ((_, acc), (pid, b)) =>
      (pid, acc + b) }.init
      .zip(stats).map { case ((_, off), (pid, _)) => (pid, off) }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, 0)
    val sharded = parted.join(broadcast(offDf), "__pid")
      .withColumn("__cum_before",
        col("__off") + sum(col("__bytes")).over(w) - col("__bytes"))
      .withColumn("shard",
        expr(s"__cum_before div ${maxBytesPerShard}"))
    sharded.select(col("__line").as("value"), col("shard"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("value"))
      .write.partitionBy("shard").mode("overwrite").text(path)
    sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__bytes")).as("n_bytes"))
      .orderBy(col("shard"))
  }
}
