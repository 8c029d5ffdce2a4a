package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the round-14 10× scale probe
  * (round-13 verdict item 6: "every 100 TB claim is design-by-argument;
  * measure one decade of growth").
  *
  * `sf1 = 10 shifted copies of sf0.1`: every table is unioned with
  * itself `factor` times, copy k remapping each key family by
  * `k · (max_key + 1)` so intra-copy joins align exactly (an order's
  * lineitems stay its lineitems) while cross-copy keys never collide —
  * cardinalities, fan-outs and value distributions all scale by the
  * factor with zero randomness (copy 0 is the identity, so sf0.1 is a
  * literal subset of the output). Non-key handling where identity
  * copies would distort semantics:
  *
  *  - `documents.text`: copies k > 0 get a copy-tagged salt token
  *    spliced after every 7th word (and n_chars recomputed), so exact
  *    fingerprints differ and shingle-level similarity across copies is
  *    knocked well below near-dup thresholds — a 10× corpus should have
  *    ~10× the dup structure, not a 100× quadratic pair explosion.
  *  - `embeddings.embedding`: copy k rotates the vector left by k
  *    positions — norm- and distribution-preserving, but neighborhoods
  *    change, so ANN candidate structure scales instead of stacking 10
  *    exact duplicates on every query point.
  *  - `events.ts` / `orders.o_orderdate`: kept verbatim — the corpus
  *    window stays 30 days at 10× density, which is what a real 10×
  *    scale-up of the same service looks like; calendar-keyed state
  *    (weeks, sessions) grows in width, not length.
  *  - `region`/`nation`: copied verbatim (fixed dimensions, as in
  *    TPC-H: scale grows facts, not the nation list).
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <destDir> [factor]`.
  * Output lands under target/ (gitignored); TESTDATA.md's sf dirs are
  * never written.
  */
object ScaleUp {

  private def keyMax(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head.getLong(0)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession()

    def load(name: String) = graft.Tables.load(spark, src, name)
    // one 10-row copy-index side: the cross join is broadcast by size
    val copies = spark.range(factor.toLong).select(col("id").cast("int").as("cp"))

    def shifted(df: DataFrame, keys: Map[String, Long]): DataFrame =
      keys.foldLeft(df.crossJoin(broadcast(copies))) { case (d, (c, span)) =>
        d.withColumn(c, col(c) + col("cp").cast("long") * span)
      }.drop("cp")

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      System.err.println(s"[scaleup] $name written")
    }

    // key spans measured once per family so every table shifts by the
    // SAME stride and intra-copy joins align
    val custSpan = keyMax(load("customer"), "c_custkey") + 1
    val suppSpan = keyMax(load("supplier"), "s_suppkey") + 1
    val partSpan = keyMax(load("part"), "p_partkey") + 1
    val orderSpan = keyMax(load("orders"), "o_orderkey") + 1
    val eventSpan = keyMax(load("events"), "event_id") + 1
    val userSpan = keyMax(load("events"), "user_id") + 1
    val docSpan = keyMax(load("documents"), "doc_id") + 1
    val vecSpan = keyMax(load("embeddings"), "vec_id") + 1

    write(load("region"), "region")
    write(load("nation"), "nation")
    write(shifted(load("customer"), Map("c_custkey" -> custSpan)), "customer")
    write(shifted(load("supplier"), Map("s_suppkey" -> suppSpan)), "supplier")
    write(shifted(load("part"), Map("p_partkey" -> partSpan)), "part")
    write(shifted(load("orders"),
      Map("o_orderkey" -> orderSpan, "o_custkey" -> custSpan)), "orders")
    write(shifted(load("lineitem"),
      Map("l_orderkey" -> orderSpan, "l_partkey" -> partSpan,
        "l_suppkey" -> suppSpan)), "lineitem")
    write(shifted(load("events"),
      Map("event_id" -> eventSpan, "user_id" -> userSpan)), "events")

    // documents: shift doc_id, salt the text of copies > 0
    val salted = load("documents").crossJoin(broadcast(copies))
      .withColumn("doc_id", col("doc_id") + col("cp").cast("long") * docSpan)
      .withColumn("text", when(col("cp") === 0, col("text")).otherwise(
        concat_ws(" ", flatten(zip_with(
          split(col("text"), " "),
          sequence(lit(0), size(split(col("text"), " ")) - 1),
          (w, i) => when(i % 7 === 6,
            array(w, concat(lit("zq"), col("cp"), lit("w"), i)))
            .otherwise(array(w)))))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("cp")
    write(salted, "documents")

    // embeddings: shift vec_id, rotate copies' vectors left by cp
    val emb = load("embeddings").crossJoin(broadcast(copies))
      .withColumn("vec_id", col("vec_id") + col("cp").cast("long") * vecSpan)
      .withColumn("embedding", when(col("cp") === 0, col("embedding"))
        .otherwise(concat(
          slice(col("embedding"), col("cp") + 1,
            size(col("embedding")) - col("cp")),
          slice(col("embedding"), lit(1), col("cp")))))
      .drop("cp")
    write(emb, "embeddings")

    graft.Tables.names.foreach { n =>
      val c = spark.read.parquet(s"$dest/$n.parquet").count()
      System.err.println(s"[scaleup] $n rows: $c")
    }
    spark.stop()
  }
}
