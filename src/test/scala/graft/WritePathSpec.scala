package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.WritePath

/** Upsert algebra (SURVEY §5.3): idempotence, last-writer-wins,
  * chunking invariance; migrate-pipeline golden test with duplicate
  * skipping and per-table error isolation.
  */
class WritePathSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._
  val sf0001 = "/root/testdata/sf0.001"

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), p)
    assert(res.passed, res.status.toString)
  }

  private def table(rows: Seq[(Long, String)]) =
    rows.toDF("k", "v")

  test("upsert: new keys insert, existing keys update, others untouched") {
    val existing = table(Seq((1L, "a"), (2L, "b")))
    val incoming = Seq((2L, "B", 1), (3L, "C", 1)).toDF("k", "v", "ver")
    val got = WritePath.upsert(existing, incoming, Seq("k"), "ver")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("upsert: in-batch duplicates resolve last-writer-wins by version") {
    val existing = table(Seq((1L, "a")))
    val incoming = Seq((1L, "v1", 1), (1L, "v2", 2), (1L, "v0", 0)).toDF("k", "v", "ver")
    val got = WritePath.upsert(existing, incoming, Seq("k"), "ver")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "v2")))
  }

  test("property: upsert is idempotent") {
    val gen = Gen.listOfN(20, Gen.zip(Gen.choose(0L, 9L), Gen.alphaStr.map(_.take(4))))
    checkProp(Prop.forAll(gen, gen) { (ex, in) =>
      val existing = table(ex.distinctBy(_._1))
      val incoming = in.zipWithIndex
        .map { case ((k, v), i) => (k, v, i) }.toDF("k", "v", "ver")
      val once = WritePath.upsert(existing, incoming, Seq("k"), "ver")
      val twice = WritePath.upsert(once, incoming, Seq("k"), "ver")
      once.as[(Long, String)].collect().sortBy(_._1).toSeq ==
        twice.as[(Long, String)].collect().sortBy(_._1).toSeq
    })
  }

  test("property: skipDuplicatesAppend result independent of batch split") {
    // chunking invariance (reference chunks of 100, migrate.ts:58):
    // appending in one batch == appending in two splits
    val gen = Gen.listOfN(16, Gen.zip(Gen.choose(0L, 7L), Gen.alphaStr.map(_.take(3))))
    checkProp(Prop.forAll(gen) { in =>
      val existing = Seq((100L, "seed", -1L)).toDF("k", "v", "ord")
      val incoming = in.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "ord")
      val whole = WritePath.skipDuplicatesAppend(existing, incoming, Seq("k"), "ord")
      val (lo, hi) = (incoming.filter($"ord" < 8), incoming.filter($"ord" >= 8))
      val split = WritePath.skipDuplicatesAppend(
        WritePath.skipDuplicatesAppend(existing, lo, Seq("k"), "ord"),
        hi, Seq("k"), "ord")
      whole.drop("ord").as[(Long, String)].collect().sorted.toSeq ==
        split.drop("ord").as[(Long, String)].collect().sorted.toSeq
    })
  }

  test("migrate pipeline: copies tables, skips duplicates on rerun, isolates failures") {
    val dest = Files.createTempDirectory("graft-migrate").toString
    val src = "/root/testdata/sf0.001"
    val tables = Seq("region", "nation", "bogus_table")
    val keys = Map("region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"))

    // E6: per-table progress lines on stderr (migrate.ts:39, 66, 72)
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    val first =
      try WritePath.migrate(spark, src, dest, tables, keys)
      finally System.setErr(realErr)
    val errLog = errBuf.toString
    assert(errLog.contains("[migrate] region: copied 5 rows"), errLog)
    assert(errLog.contains("[migrate] bogus_table failed"), errLog)
    assert(first("region") === 5L)
    assert(first("nation") === 25L)
    assert(first("bogus_table") === -1L) // isolated failure (E1)

    // rerun: everything already present -> zero new rows appended
    val second = WritePath.migrate(spark, src, dest, tables, keys)
    assert(second("region") === 0L)
    assert(second("nation") === 0L)
    assert(spark.read.parquet(s"$dest/nation.parquet").count() === 25L)
  }

  test("migrate without keys copies every distinct lineitem row") {
    val dest = Files.createTempDirectory("graft-migrate-rows").toString
    val first = WritePath.migrate(spark, sf0001, dest, Seq("lineitem"), Map.empty)
    assert(first("lineitem") === 6000L)
    assert(spark.read.parquet(s"$dest/lineitem.parquet").count() === 6000L)
  }

  test("migrate without keys copies nothing on rerun") {
    val dest = Files.createTempDirectory("graft-migrate-rerun").toString
    WritePath.migrate(spark, sf0001, dest, Seq("lineitem"), Map.empty)
    val second = WritePath.migrate(spark, sf0001, dest, Seq("lineitem"), Map.empty)
    assert(second("lineitem") === 0L)
    assert(spark.read.parquet(s"$dest/lineitem.parquet").count() === 6000L)
  }

  test("migrate without keys matches rows holding a null on rerun") {
    val src = Files.createTempDirectory("graft-migrate-null-src").toString
    val dest = Files.createTempDirectory("graft-migrate-null-dest").toString
    Seq((0, Some("AFRICA")), (1, None), (1, None))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$src/region.parquet")
    val first = WritePath.migrate(spark, src, dest, Seq("region"), Map.empty)
    assert(first("region") === 2L)
    val second = WritePath.migrate(spark, src, dest, Seq("region"), Map.empty)
    assert(second("region") === 0L)
    assert(spark.read.parquet(s"$dest/region.parquet").count() === 2L)
  }

  test("a rerun with nothing to copy leaves the destination's file listing unchanged") {
    val dest = Files.createTempDirectory("graft-migrate-listing").toString
    val keys = Map("lineitem" -> Tables.schemas("lineitem").fieldNames.toSeq)
    def listing = new java.io.File(s"$dest/lineitem.parquet").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).sorted.toSeq
    assert(WritePath.migrate(spark, sf0001, dest, Seq("lineitem"), keys)("lineitem") === 6000L)
    val before = listing
    assert(WritePath.migrate(spark, sf0001, dest, Seq("lineitem"), keys)("lineitem") === 0L)
    assert(listing === before)
  }

  test("migrate pipeline driven end-to-end from a parsed schema string (S2)") {
    // the reference's design: schema.prisma decides what gets copied
    // (migrate.ts:83-93) — table list AND catalog both come from the
    // schema text, none from Scala-side registries
    val dest = Files.createTempDirectory("graft-migrate-schema").toString
    val src = "/root/testdata/sf0.001"
    val schema =
      """model Region {
        |  r_regionkey Int    @id
        |  r_name      String
        |  @@map("region")
        |}
        |model Nation {
        |  n_nationkey Int    @id
        |  n_name      String
        |  n_regionkey Int
        |  region      Region // relation field: no physical column
        |  @@map("nation")
        |}
        |model Ghost { // in the schema but absent on disk: isolated fail
        |  g_id BigInt @id
        |}
        |""".stripMargin
    val first = WritePath.migrateFromSchema(spark, schema, src, dest,
      keys = Map("region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey")))
    assert(first === Map("region" -> 5L, "nation" -> 25L, "ghost" -> -1L))
    // rerun is duplicate-skipping, same as the registry-driven path
    val second = WritePath.migrateFromSchema(spark, schema, src, dest,
      keys = Map("region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey")))
    assert(second === Map("region" -> 0L, "nation" -> 0L, "ghost" -> -1L))
    assert(spark.read.parquet(s"$dest/nation.parquet").count() === 25L)
  }

  test("DMMF parity: enum + @relation + @default parse and drive the write path") {
    val src = Files.createTempDirectory("graft-dmmf-src").toString
    val dest = Files.createTempDirectory("graft-dmmf-dest").toString
    val schema =
      """enum Status {
        |  ACTIVE
        |  DISABLED
        |}
        |model Author {
        |  a_id   BigInt @id
        |  a_name String
        |  @@map("author")
        |}
        |model Post {
        |  p_id      BigInt  @id
        |  status    Status  @default(ACTIVE)
        |  views     Int     @default(0)
        |  created   DateTime @default(now())
        |  author_id BigInt?
        |  author    Author? @relation(fields: [author_id], references: [a_id])
        |  @@map("post")
        |}""".stripMargin
    val models = SchemaCatalog.parseModels(schema)
    val post = models.find(_.name == "Post").get
    // relation field dropped from physical columns; fk metadata kept
    assert(post.schema.fieldNames.toSeq ===
      Seq("p_id", "status", "views", "created", "author_id"))
    assert(post.relations === Seq(SchemaCatalog.Relation(
      "author", "Author", Seq("author_id"), Seq("a_id"))))
    // enum column is text with its domain recorded
    assert(post.schema("status").dataType.typeName === "string")
    assert(post.enumFields === Map("status" -> Seq("ACTIVE", "DISABLED")))
    assert(post.defaults === Map("status" -> "ACTIVE", "views" -> "0",
      "created" -> "now()"))

    // @default application: missing column materializes, nulls coalesce
    val batch = Seq((1L, Some("DISABLED"), Some(5L)), (2L, None, None))
      .toDF("p_id", "status", "author_id")
    val defaulted = WritePath.applyDefaults(batch, post)
    val got = defaulted.select($"p_id", $"status", $"views")
      .as[(Long, String, Int)].collect().toSet
    assert(got === Set((1L, "DISABLED", 0), (2L, "ACTIVE", 0)))
    // now() stamped once per batch: a single distinct timestamp
    assert(defaulted.select($"created").distinct().count() === 1L)

    // enum-domain validation catches values outside the domain
    val bad = Seq((3L, "NOPE"), (4L, "ACTIVE")).toDF("p_id", "status")
    assert(WritePath.enumViolations(bad, post)
      .as[(String, String)].collect().toSeq === Seq(("status", "NOPE")))
    assert(WritePath.enumViolations(batch, post).count() === 0L)

    // migrate driven from this schema copies both tables
    Seq((10L, "amal")).toDF("a_id", "a_name")
      .write.mode("overwrite").parquet(s"$src/author.parquet")
    WritePath.applyDefaults(
        Seq((1L, Some(10L)), (2L, Some(99L)), (3L, None))
          .toDF("p_id", "author_id"), post)
      .select($"p_id", $"status", $"views", $"created", $"author_id")
      .write.mode("overwrite").parquet(s"$src/post.parquet")
    val copied = WritePath.migrateFromSchema(spark, schema, src, dest,
      keys = Map("author" -> Seq("a_id"), "post" -> Seq("p_id")))
    assert(copied === Map("author" -> 1L, "post" -> 3L))

    // fk audit: author_id=99 is the one orphan; the null fk is not
    val orphans = WritePath.fkOrphans(spark, src, schema)
      .as[(String, String, String, String, Long)].collect().toSeq
    assert(orphans === Seq(("post", "author_id", "author", "a_id", 1L)))
  }

  test("E2 quarantine mode: contract-violating rows isolated, copy proceeds") {
    // reference semantics: a failed insert chunk is logged and later
    // chunks proceed (migrate.ts:67-69); here the failing unit is the
    // row violating the schema's requiredness contract
    val src = Files.createTempDirectory("graft-q-src").toString
    val dest = Files.createTempDirectory("graft-q-dest").toString
    Seq((Some(0), Some("AFRICA")), (Some(1), None), (None, Some("ASIA")),
        (Some(3), Some("EUROPE")))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$src/region.parquet")
    val schema =
      """model Region {
        |  r_regionkey Int    @id
        |  r_name      String
        |  @@map("region")
        |}""".stripMargin
    val copied = WritePath.migrateFromSchema(spark, schema, src, dest,
      keys = Map("region" -> Seq("r_regionkey")), quarantine = true)
    assert(copied === Map("region" -> 2L)) // two clean rows copied
    val good = spark.read.parquet(s"$dest/region.parquet")
      .as[(Option[Int], Option[String])].collect().toSet
    assert(good === Set((Some(0), Some("AFRICA")), (Some(3), Some("EUROPE"))))
    // violating rows preserved, same schema, for replay after repair
    val quar = spark.read.parquet(s"$dest/region.parquet_quarantine")
      .as[(Option[Int], Option[String])].collect().toSet
    assert(quar === Set((Some(1), None), (None, Some("ASIA"))))
    // rerun: clean rows dedup-skip, the same bad rows quarantine again
    // (append mode: replay bookkeeping is the operator's contract, not
    // dedup of the quarantine itself)
    val again = WritePath.migrateFromSchema(spark, schema, src, dest,
      keys = Map("region" -> Seq("r_regionkey")), quarantine = true)
    assert(again === Map("region" -> 0L))
    assert(spark.read.parquet(s"$dest/region.parquet").count() === 2L)
  }

  test("appsStats report pipeline: flagship scores to spreadsheet CSV") {
    val out = Files.createTempDirectory("graft-report").toString + "/apps"
    graft.operators.Report.writeAppsStats(spark, "/root/testdata/sf0.001", out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1) // single-file export (coalesce(1))
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head.startsWith("\"App\",\"Developer\",\"Recommendations\"," +
      "\"Popularity Score\",\"Last Snapshot\",\"Category 1\""))
    assert(lines.length === 11) // header + 10 suppliers at sf0.001
    assert(lines(1).contains("=HYPERLINK("))
  }

  test("property: partition-scoped merge equals whole-table upsert") {
    // the copy-on-write merge rewrites only affected partitions; its
    // post-image must equal the naive full upsert for random
    // existing/incoming sets spanning several dates (incl. updates,
    // inserts, in-batch duplicates)
    val dates = Seq("2024-01-01", "2024-01-02", "2024-02-10")
    val rowGen = for {
      id <- Gen.choose(0L, 14L)
      d <- Gen.oneOf(dates)
      v <- Gen.choose(0, 999)
    } yield (id, java.sql.Timestamp.valueOf(s"$d 12:00:00"), v.toDouble)
    val gen = Gen.zip(Gen.listOfN(12, rowGen), Gen.listOfN(8, rowGen))
    checkProp(Prop.forAll(gen) { case (existing0, incoming0) =>
      // existing side: unique keys (it is a table post-image)
      val existing = existing0.distinctBy(_._1)
      val incoming = incoming0.zipWithIndex
        .map { case ((id, ts, v), i) => (id, ts, v, i) }
      val dir = Files.createTempDirectory("graft-mergeprop").toString + "/t"
      val exDf = existing.toDF("k", "ts", "v")
      WritePath.writeDatePartitioned(exDf, dir, "ts")
      val inDf = incoming.toDF("k", "ts", "v", "__v")
      WritePath.mergeDatePartitioned(spark, dir, inDf, Seq("k"), "ts", "__v")
      val got = spark.read.parquet(dir).select("k", "v")
        .as[(Long, Double)].collect().sorted.toSeq
      // reference: last-writer-wins by __v per key over the whole table
      val lastIn = incoming.groupBy(_._1).map { case (k, rs) =>
        k -> rs.maxBy(_._4)._3 }
      val expected = (existing.map(e => e._1 -> e._3).toMap ++ lastIn)
        .toSeq.sorted
      got == expected
    })
  }

  test("categoriesStats report pipeline: golden CSV on sf0.001") {
    // getCategoriesStats (lib.ts:539-554) end-to-end: difficulty
    // rollup (popularity-composed q48) -> labeled spreadsheet CSV.
    // Golden values cross-checked against the DuckDB oracle.
    val out = Files.createTempDirectory("graft-report").toString + "/categories"
    graft.operators.Report.writeCategoriesStats(spark, "/root/testdata/sf0.001", out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head === "\"Category Name\",\"Total Apps\"," +
      "\"Average Popularity Score\",\"Total reviews\",\"Difficulty Score\"")
    assert(lines.length === 26) // header + 25 brands at sf0.001
    // top row: Brand#25 (json2csv-style doubled quotes inside the cell)
    assert(lines(1) ===
      "\"=HYPERLINK(\"\"https://example.com/categories/Brand#25/all\"\",\"\"Brand#25\"\")\"," +
      "\"10\",\"0.92436\",\"11697.0\",\"3.916053\"")
  }

  test("F8: writer path stamps audit columns with one engine clock value") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("handle", "name")
    val stamped = graft.operators.TableWriters.stampNow(df).collect()
    // current_timestamp() is per-query-constant: every row of the
    // batch carries the same stamp, like the reference's one
    // new Date() per save call (lib.ts:100)
    val created = stamped.map(_.getTimestamp(2))
    val updated = stamped.map(_.getTimestamp(3))
    assert(created.forall(_ != null) && updated.forall(_ != null))
    assert(created.distinct.length === 1)
    assert(updated.distinct.length === 1)
  }

  test("CSV report sink writes a single quoted file with header") {
    val out = Files.createTempDirectory("graft-csv").toString + "/report"
    val df = Seq((1L, "na\"me")).toDF("id", "name")
    WritePath.writeCsvReport(df, out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head === "\"id\",\"name\"")
    assert(lines(1) === "\"1\",\"na\\\"me\"" || lines(1) === "\"1\",\"na\"\"me\"")
  }
}
