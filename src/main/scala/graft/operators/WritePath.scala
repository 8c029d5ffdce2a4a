package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Write-path operators (SURVEY §2.1 S5-S10): the reference's
  * ON-CONFLICT upsert writers and duplicate-skipping batch append
  * (`src/utils/lib.ts:76-95`, `src/migrate.ts:58-70`) re-expressed as
  * join-based merges over immutable files.
  *
  * Scale posture: the anti/upsert joins shuffle on the key columns; at
  * 100 TB both sides should be bucketed by key so the merge is
  * co-partitioned (no wide shuffle), and the rewrite should be
  * partition-scoped (only partitions containing incoming keys), which
  * is what table formats' MERGE INTO does. The logic below is the
  * engine-level plan those formats execute.
  */
object WritePath {

  /** Last-writer-wins upsert (S6; reference `lib.ts:76-95`:
    * INSERT ... ON CONFLICT (keys) DO UPDATE SET col = EXCLUDED.col).
    *
    * Within `incoming`, later rows win — the reference relies on
    * per-statement ordering; here an explicit `versionCol` (ascending
    * priority) makes that deterministic (SURVEY §7 "hard parts").
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             versionCol: String): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*).orderBy(col(versionCol).desc)
    val deduped = incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // a synthetic ordering column is dropped; a real destination
    // column (e.g. updatedAt) used as the version must survive
    val dedupedIncoming =
      if (existing.columns.contains(versionCol)) deduped else deduped.drop(versionCol)
    existing.join(dedupedIncoming, keys, "left_anti")
      .unionByName(dedupedIncoming)
  }

  /** Insert-ignore append (S5/S7; reference `createMany(skipDuplicates)`
    * `migrate.ts:62-65` and ON CONFLICT DO NOTHING `lib.ts:90-91`):
    * rows whose keys exist are dropped; in-batch duplicates keep the
    * first occurrence by `orderCol`.
    */
  def skipDuplicatesAppend(existing: DataFrame, incoming: DataFrame,
                           keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).asc)
    val deduped = incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // a pure ordering column (not part of the destination schema) is
    // dropped after dedup so the union stays schema-aligned
    val aligned =
      if (existing.columns.contains(orderCol)) deduped else deduped.drop(orderCol)
    existing.unionByName(aligned.join(existing, keys, "left_anti"))
  }

  /** The migrate pipeline (SURVEY §3.1; reference `src/migrate.ts:75-99`):
    * per-table copy src → dest with duplicate skipping and per-table
    * error isolation (E1: a failed table logs and the loop continues).
    *
    * Documented divergence (SURVEY E2): the reference also isolates
    * per-100-row insert batches (`migrate.ts:67-69` — a failed chunk is
    * logged and later chunks proceed). Spark writes are all-or-nothing
    * per job: a failed write rolls the whole table copy back, which is
    * strictly safer (no partially-applied table) at the cost of
    * partial-progress semantics.
    * The reference materializes each table in driver RAM
    * (`migrate.ts:48`) and writes 100-row batches; here the scan and
    * write are distributed and batching is partition-level.
    *
    * A table without an entry in `keys` is deduplicated on the whole
    * row (nulls compare equal), so a rerun copies nothing.
    *
    * Returns (table -> copied row count); failed tables map to -1.
    */
  def migrate(spark: SparkSession, srcDir: String, destDir: String,
              tables: Seq[String], keys: Map[String, Seq[String]],
              catalog: Map[String, org.apache.spark.sql.types.StructType]
                = Tables.schemas,
              required: Map[String, Seq[String]] = Map.empty): Map[String, Long] =
    tables.map { t =>
      t -> (try {
        // existence guard (E: migrate.ts:43-46)
        require(catalog.contains(t), s"model $t not in catalog")
        val src = Tables.load(spark, srcDir, t, catalog)
        // without explicit keys a row is its own key
        val k = keys.getOrElse(t, src.columns.toSeq)
        val deduped = src.dropDuplicates(k)
        val destPath = s"$destDir/$t.parquet"
        // destination existence via the Hadoop FileSystem of the path
        // (NOT java.io.File, which is local-only and would report
        // "absent" on HDFS/S3 — skipping the anti-join and appending
        // duplicates at the stated 100 TB posture)
        val hPath = new org.apache.hadoop.fs.Path(destPath)
        val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
        val toWrite =
          if (fs.exists(hPath)) {
            // the copy's own schema: inferring it would scan footers
            val existing = spark.read.schema(deduped.schema).parquet(destPath)
            if (keys.contains(t)) deduped.join(existing, k, "left_anti")
            // whole-row key: null-safe, so a row holding a null still
            // matches its earlier copy
            else deduped.join(existing,
              k.map(c => deduped(c) <=> existing(c)).reduce(_ && _), "left_anti")
          } else deduped
        // empty-input short-circuit (E3: migrate.ts:53-56): the copy is
        // cut once and counted on that job, and only a non-empty cut is
        // written (the writer would commit an empty part file for an
        // empty one). With a required-columns contract the write runs in
        // E2 quarantine mode (contract-violating rows isolated, copy
        // proceeds)
        val n = required.get(t).filter(_.nonEmpty) match {
          case Some(req) => appendWithQuarantine(toWrite, destPath, req)._1
          case None =>
            val (cut, c) = graft.Iterate.cutObserved(toWrite, count(lit(1)))
            if (c > 0) cut.write.mode(SaveMode.Append).parquet(destPath)
            c
        }
        // structured progress logging (E6: migrate.ts:39, 66, 72)
        System.err.println(s"[migrate] $t: copied $n rows")
        n
      } catch {
        // NonFatal: per-table isolation must not swallow JVM errors
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[migrate] $t failed: ${e.getMessage}")
          -1L
      })
    }.toMap

  /** E2 per-batch error isolation, Spark-shaped: the reference's
    * migrate loop logs a failed 100-row insert chunk and PROCEEDS with
    * later chunks (`migrate.ts:67-69`) — partial progress instead of
    * all-or-nothing. A Spark job is write-atomic, so the honest
    * equivalent isolates at the granularity that actually fails in a
    * copy pipeline: ROWS that would violate the destination contract
    * (required/NOT-NULL columns, from the schema catalog's `?`
    * markers). One pass splits the batch; contract-clean rows append
    * to the destination, violating rows land in `<dest>_quarantine`
    * with the same schema for replay after repair — no partially
    * applied files, nothing silently dropped. Returns (nGood, nBad).
    *
    * Scale: the split is a narrow map over the scan (one
    * materialization feeds both writes); quarantine is expected-tiny
    * and never joins anything.
    */
  def appendWithQuarantine(df: DataFrame, destPath: String,
                           required: Seq[String]): (Long, Long) = {
    val bad = required.map(col(_).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    val flagged = df.withColumn("__bad", bad).transform(graft.Iterate.cut)
    val good = flagged.filter(!col("__bad")).drop("__bad")
    val badRows = flagged.filter(col("__bad")).drop("__bad")
    val nGood = good.count()
    val nBad = badRows.count()
    if (nGood > 0) good.write.mode(SaveMode.Append).parquet(destPath)
    if (nBad > 0) {
      badRows.write.mode(SaveMode.Append).parquet(s"${destPath}_quarantine")
      // the reference logs and continues (migrate.ts:67-69); same here
      System.err.println(
        s"[migrate] quarantined $nBad row(s) violating required " +
          s"columns ${required.mkString(",")} -> ${destPath}_quarantine")
    }
    (nGood, nBad)
  }

  /** Schema-text-driven migrate (S2 completed): the reference's whole
    * pipeline is steered by `schema.prisma` — `migrate.ts:83-85` loads
    * the file, derives the model list, and copies exactly those
    * models. This is that entry point: parse the Prisma-style schema
    * text, take the table list AND the catalog from it, run
    * [[migrate]]. A new table set is a schema edit, not a code edit.
    */
  def migrateFromSchema(spark: SparkSession, schemaText: String,
                        srcDir: String, destDir: String,
                        keys: Map[String, Seq[String]] = Map.empty,
                        quarantine: Boolean = false): Map[String, Long] = {
    val models = graft.SchemaCatalog.parseModels(schemaText)
    migrate(spark, srcDir, destDir, models.map(_.table), keys,
      models.map(m => m.table -> m.schema).toMap,
      // quarantine mode enforces the schema's requiredness (non-`?`
      // fields) as the E2 write contract
      if (quarantine) models.map(m => m.table -> m.required).toMap
      else Map.empty)
  }

  /** Apply a model's `@default`s on the write path (DMMF parity for
    * the attribute Prisma's client applies on INSERT): a column the
    * batch doesn't carry materializes as its default; an existing
    * column's NULLs coalesce to it. `now()` stamps once per batch
    * (the F8 convention — `current_timestamp()` is a per-query
    * constant); `autoincrement()`/`dbgenerated(...)` are storage-
    * engine defaults a copy pipeline must NOT fabricate, so they are
    * left untouched. Literals cast to the field's catalog type; an
    * enum default must be one of the enum's values (fails fast
    * otherwise — a schema typo, not data).
    */
  def applyDefaults(df: DataFrame,
                    model: graft.SchemaCatalog.Model): DataFrame =
    model.defaults.foldLeft(df) { case (acc, (field, raw)) =>
      val dt = model.schema.fields.find(_.name == field).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"model ${model.name}: @default on unknown field $field"))
      val dflt: Option[org.apache.spark.sql.Column] = raw match {
        case "now()" => Some(current_timestamp().cast(dt))
        case "autoincrement()" => None
        case s if s.startsWith("dbgenerated") => None
        case s if s.startsWith("\"") && s.endsWith("\"") && s.length >= 2 =>
          Some(lit(s.substring(1, s.length - 1)).cast(dt))
        case "true" | "false" => Some(lit(raw == "true").cast(dt))
        case s if s.nonEmpty && (s(0).isDigit || s(0) == '-') =>
          Some(lit(s).cast(dt))
        case s if model.enumFields.contains(field) =>
          require(model.enumFields(field).contains(s),
            s"model ${model.name}: @default($s) is not a value of " +
              s"$field's enum ${model.enumFields(field).mkString("{", ",", "}")}")
          Some(lit(s))
        case s => throw new IllegalArgumentException(
          s"model ${model.name}: unsupported @default($s) on $field")
      }
      dflt.map { d =>
        if (acc.columns.contains(field))
          acc.withColumn(field, coalesce(col(field), d))
        else acc.withColumn(field, d)
      }.getOrElse(acc)
    }

  /** Enum-domain violations in a batch: one row per offending input
    * row and enum field — (field, value) plus the model's key columns
    * if present — the write-path validation the parsed enum blocks
    * make possible. Narrow scan, no shuffle; compose with the E2
    * quarantine before an append.
    */
  def enumViolations(df: DataFrame,
                     model: graft.SchemaCatalog.Model): DataFrame = {
    val frames = model.enumFields.toSeq.sortBy(_._1).map { case (f, vals) =>
      df.filter(col(f).isNotNull && !col(f).isin(vals: _*))
        .select(lit(f).as("field"), col(f).cast("string").as("value"))
    }
    frames.reduceOption(_.unionByName(_))
      .getOrElse(df.sparkSession.emptyDataFrame
        .select(lit("").as("field"), lit("").as("value")).limit(0))
  }

  /** Referential-integrity audit over a parsed schema's `@relation`s:
    * for every declared fk, the count of child rows whose (non-null)
    * fk combination has no parent — orphans that a relational
    * destination would reject and a parquet copy silently keeps. One
    * broadcast-or-shuffle anti-join per relation on the fk columns;
    * output is relation-count-sized.
    */
  def fkOrphans(spark: SparkSession, dir: String,
                schemaText: String): DataFrame = {
    val models = graft.SchemaCatalog.parseModels(schemaText)
    val byName = models.map(m => m.name -> m).toMap
    val rows = for {
      m <- models
      r <- m.relations if r.fkFields.nonEmpty && r.refFields.nonEmpty
    } yield {
      val parent = byName.getOrElse(r.related,
        throw new IllegalArgumentException(
          s"model ${m.name}: @relation to undeclared model ${r.related}"))
      val child = Tables.load(spark, dir, m.table,
        models.map(x => x.table -> x.schema).toMap)
      val par = Tables.load(spark, dir, parent.table,
        models.map(x => x.table -> x.schema).toMap)
      val cond = r.fkFields.zip(r.refFields).map { case (fk, ref) =>
        col("c." + fk) === col("p." + ref) }.reduce(_ && _)
      val nonNull = r.fkFields.map(f => col("c." + f).isNotNull)
        .reduce(_ && _)
      val n = child.as("c").filter(nonNull)
        .join(par.as("p"), cond, "left_anti").count()
      (m.table, r.fkFields.mkString(","), parent.table,
        r.refFields.mkString(","), n)
    }
    import spark.implicits._
    rows.toDF("child_table", "fk_fields", "parent_table", "ref_fields",
      "n_orphans")
  }

  /** CSV report sink (S10; reference json2csv with explicit field order
    * and full quoting, `lib.ts:532-536`): single file, header, quoteAll.
    * escape = `"` gives RFC-4180 doubled quotes — the same style
    * json2csv emits (`"" `), so HYPERLINK formula cells round-trip
    * into spreadsheets exactly like the reference's output.
    */
  def writeCsvReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").option("quoteAll", "true")
      .option("escape", "\"").csv(path)

  /** Bucketed table write — the 100 TB join layout: both sides of a
    * recurring equi-join bucketed by the key join co-partitioned, so
    * the sort-merge join needs NO shuffle (verified plan-level in
    * BucketingSpec). This is how the history⋈history joins of the
    * flagship query should be stored at scale (SURVEY §4).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Partition-scoped merge (copy-on-write): upsert `incoming` into a
    * date-partitioned destination rewriting ONLY the affected
    * partitions — the plan a table format's MERGE INTO executes,
    * written out over plain parquet. At 100 TB rewriting the whole
    * table per batch is impossible; this rewrites |affected dates|
    * partitions:
    *
    *  1. derive the affected p_date set: the dates incoming rows land
    *     on PLUS the dates currently holding an incoming KEY (a
    *     key-columns-only semi-join scan of the destination — a key
    *     may MOVE partitions when its event time is corrected, and its
    *     old row must be rewritten away, not left as a stale
    *     duplicate; table formats pay the same matching scan, pruned
    *     by file stats);
    *  2. read ONLY those partitions (partition pruning);
    *  3. last-writer-wins upsert of incoming into that slice;
    *  4. dynamic-partition overwrite writes back just that slice.
    *
    * Null event times map to the Hive default partition, reported with
    * its sentinel name. Returns the affected partition values.
    */
  def mergeDatePartitioned(spark: SparkSession, destPath: String,
                           incoming: DataFrame, keys: Seq[String],
                           tsCol: String, versionCol: String): Seq[String] = {
    val nullPartition = "__HIVE_DEFAULT_PARTITION__"
    val incomingP = incoming.withColumn("p_date", to_date(col(tsCol)))
    val existing = spark.read.parquet(destPath)
    // dates incoming rows land on ∪ dates currently holding an
    // incoming key (cross-partition key moves) — two tiny collects
    // (the partition predicate, the metadata-lookup role); the
    // key-match scan reads only the key + partition columns
    val incomingKeys = incomingP.select(keys.map(col): _*).distinct()
    val landed = incomingP.select(col("p_date").cast("string"))
      .distinct().collect().map(r => Option(r.getString(0)))
    val holding = existing.join(incomingKeys, keys, "left_semi")
      .select(col("p_date").cast("string"))
      .distinct().collect().map(r => Option(r.getString(0)))
    val affectedRaw = (landed ++ holding).distinct
    // null timestamps: tracked separately because isin() never
    // matches null, and sorted without the null entry
    val hasNullDate = affectedRaw.contains(None)
    val affected = affectedRaw.flatten.toSeq.sorted
    val datePred = {
      val inSet = col("p_date").cast("string").isin(affected: _*)
      if (hasNullDate) inSet || col("p_date").isNull else inSet
    }
    // materialized once: the merge output feeds both the
    // emptied-partition probe and the write — two lazy evaluations
    // could pick different rows on version ties
    val merged = upsert(existing.filter(datePred),
      incomingP.withColumn("p_date", col("p_date").cast("date")),
      keys, versionCol).transform(graft.Iterate.cut)
    // a partition whose ONLY rows moved away ends up empty — dynamic
    // overwrite cannot write an empty partition, so its directory must
    // be dropped explicitly or the stale rows survive. One extra
    // collect over the (affected-slice-sized) merge output.
    val mergedDates = merged.select(col("p_date").cast("string"))
      .distinct().collect().map(r => Option(r.getString(0))).toSet
    merged.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_date").parquet(destPath)
    val emptied =
      affected.filterNot(d => mergedDates.contains(Some(d))).map(d => s"p_date=$d") ++
        (if (hasNullDate && !mergedDates.contains(None))
          Seq(s"p_date=$nullPartition") else Nil)
    if (emptied.nonEmpty) {
      val base = new org.apache.hadoop.fs.Path(destPath)
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      emptied.foreach(dir =>
        fs.delete(new org.apache.hadoop.fs.Path(base, dir), true))
    }
    affected ++ (if (hasNullDate) Seq(nullPartition) else Nil)
  }

  /** Date-partitioned append — the 100 TB history-table layout
    * (SURVEY §4: partition history by capturedAt date): readers with a
    * date predicate scan only matching directories (partition pruning,
    * verified plan-level in BucketingSpec).
    */
  def writeDatePartitioned(df: DataFrame, path: String, tsCol: String): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite).partitionBy("p_date").parquet(path)

  // ---------------------------------------------------------------------------
  // Oracle-checked query forms of the write-path semantics. The Spark
  // side runs the real merge machinery; the oracle states the expected
  // post-image in closed form.
  // ---------------------------------------------------------------------------

  /** q14: upsert of customer with an incoming batch that contains
    * in-batch key duplicates (versions 1 and 2) — exercises
    * last-writer-wins ordering.
    */
  /** CDC apply: reconcile a keyed change stream (op ∈ I/U/D with a
    * version column) into a snapshot — the write-path shape the
    * reference's copy-only pipeline (migrate.ts) cannot express:
    * replicating a source that DELETES needs tombstones, not just
    * ON CONFLICT upserts. Per key, the highest-version change wins
    * (on a version tie the delete wins — tombstone durability:
    * `orderBy(version desc, op asc)` sorts 'D' first); every changed
    * key leaves the snapshot, and the winning I/U rows are appended —
    * [[upsert]]'s last-writer-wins union, without its window, as the
    * winners are one row per key already. Re-applying the same change
    * set is a no-op (idempotent — the recovery contract, tested).
    *
    * Determinism: pass `seqCol` (a per-change sequence/offset id, the
    * thing every CDC log carries) to fully tiebreak the winner window
    * — highest sequence wins among same-(version, op) changes. With
    * `seqCol = None` the stream must not contain two changes with
    * equal (key, version, op) but different payloads: their winner
    * would be pick-any, so the post-image could differ across runs.
    *
    * Scale: one window over the CHANGES (batch-sized, not
    * snapshot-sized), one anti-join of the snapshot and a union — all
    * co-partitioned on the key.
    */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
               opCol: String, versionCol: String,
               seqCol: Option[String] = None): DataFrame = {
    val ordering = Seq(col(versionCol).desc, col(opCol)) ++
      seqCol.map(c => col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // op and the synthetic sequence are change-stream bookkeeping, not
    // destination columns; the version survives only as one
    val upserts = latest.filter(col(opCol) =!= "D").drop(opCol)
      .drop((seqCol.toSeq ++ Seq(versionCol).filterNot(base.columns.contains)): _*)
    base.join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(upserts)
  }

  def upsertCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.load(spark, dir, "customer")
    val v1 = cus.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      .withColumn("__v", lit(1))
    val v2 = cus.filter(col("c_custkey") % 14 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 2000.0)
      .withColumn("__v", lit(2))
    upsert(cus, v1.unionByName(v2), Seq("c_custkey"), "__v")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val upsertCustomersSql: String =
    """SELECT c_custkey, c_name,
      |  CASE WHEN c_custkey % 14 = 0 THEN c_acctbal + 2000.0
      |       WHEN c_custkey % 7 = 0 THEN c_acctbal + 1000.0
      |       ELSE c_acctbal END AS c_acctbal
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** q15: duplicate-skipping append (migrate path): existing = early
    * orders, incoming = even orders; conflicts keep the existing row.
    */
  def skipDuplicatesOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    val existing = ord.filter(col("o_orderkey") < 500)
      .withColumn("o_orderstatus", lit("EXISTING"))
    val incoming = ord.filter(col("o_orderkey") % 2 === 0)
    skipDuplicatesAppend(existing, incoming, Seq("o_orderkey"), "o_orderkey")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val skipDuplicatesOrdersSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey < 500 THEN 'EXISTING' ELSE o_orderstatus END AS o_orderstatus,
      |  o_totalprice
      |FROM orders
      |WHERE o_orderkey < 500 OR o_orderkey % 2 = 0
      |ORDER BY o_orderkey""".stripMargin
}
