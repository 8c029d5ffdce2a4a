package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The iteration discipline behind the fixpoint family (q38 CC, q107
  * PageRank, dedup clustering): [[Iterate.cut]] mode selection,
  * reliable (replicated) checkpointing, and PageRank's L1-delta
  * convergence stop.
  */
class IterateSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def lineitemDir(rows: Seq[(Long, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-iter").toString
    rows.map { case (ok, pk) =>
      (ok, pk, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
        new java.sql.Timestamp(0L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("Iterate.cut: reliable flag without a checkpoint dir fails fast") {
    // must run before any test sets a checkpoint dir on the shared
    // context (Spark has no unset)
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    spark.conf.set(Iterate.ReliableFlag, "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Iterate.cut(Seq(1, 2, 3).toDF("x"))
      }
      assert(e.getMessage.contains("checkpoint dir"))
    } finally spark.conf.set(Iterate.ReliableFlag, "false")
  }

  test("reliable mode: kmeansCentroids cuts its loop state through " +
      "Iterate.cut and matches local-mode centroids") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def centroids() = graft.operators.Similarity.kmeansCentroids(emb)
      .as[(Int, Seq[Float])].collect().toSeq.sortBy(_._1)
    val local = centroids()
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck-kmeans")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    spark.conf.set(Iterate.ReliableFlag, "true")
    try {
      assert(centroids() === local)
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(ckDir).iterator().asScala.toList
      assert(files.exists(_.getFileName.toString.startsWith("part-")),
        s"no checkpoint part files under $ckDir")
    } finally spark.conf.set(Iterate.ReliableFlag, "false")
  }

  test("reliable mode: the label fixpoint cuts every round through " +
      "Iterate.cut, observes convergence on the cut and matches local mode") {
    import graft.operators.Dedup
    val dir = SharedSpark.sf0001
    def labels(maxIters: Int): (Seq[(Long, Long)], Boolean) = {
      val (l, converged) = Dedup.computeClusterLabels(spark, dir, 3, 0.6, maxIters)
      (l.as[(Long, Long)].collect().toSeq.sorted, converged)
    }
    val local = labels(50)
    assert(local._2 && local._1.nonEmpty)
    // the fewest rounds that converge: the round after the last change
    val rounds = (1 to 50).find(labels(_)._2).get
    assert(rounds >= 2)
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck-labels")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    spark.conf.set(Iterate.ReliableFlag, "true")
    try {
      assert(labels(50) === local)
      assert(labels(rounds)._2)
      assert(!labels(rounds - 1)._2)
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(ckDir).iterator().asScala.toList
      assert(files.exists(_.getFileName.toString.startsWith("part-")),
        s"no checkpoint part files under $ckDir")
    } finally spark.conf.set(Iterate.ReliableFlag, "false")
  }

  test("reliable mode: q26's shingle table cuts write replicated checkpoints " +
      "and the pairs match local mode") {
    import graft.operators.Dedup
    // q26 cuts nothing but the memoized shingle table (tokenize, then
    // df-cap join-back): both of those cuts must follow the flag
    def pairs(): Seq[(Long, Long, Double)] = {
      Iterate.clearMemo()
      Dedup.ngramJaccardPairs(spark, SharedSpark.sf0001)
        .as[(Long, Long, Double)].collect().toSeq
    }
    val local = pairs()
    assert(local.nonEmpty)
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck-shingles")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    spark.conf.set(Iterate.ReliableFlag, "true")
    try {
      assert(pairs() === local)
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(ckDir).iterator().asScala.toList
        .filter(_.getFileName.toString.startsWith("rdd-"))
      assert(rddDirs.size === 2, s"expected the two shingle cuts under $ckDir")
      assert(rddDirs.forall(d => java.nio.file.Files.list(d).iterator().asScala
        .exists(_.getFileName.toString.startsWith("part-"))))
    } finally {
      spark.conf.set(Iterate.ReliableFlag, "false")
      Iterate.clearMemo()
    }
  }

  test("Iterate.memo: q38's labels build reaches the shingle memo inside " +
      "its own build, in a fresh session after clearMemo") {
    import graft.operators.Dedup
    val dir = SharedSpark.sf0001
    val expect = Dedup.dedupClusters(spark, dir).as[(Long, Long, Int)]
      .collect().toSeq
    Iterate.clearMemo()
    val s = spark.newSession()
    val before = Dedup.labelsComputeCount.get()
    val got = Dedup.dedupClusters(s, dir).as[(Long, Long, Int)].collect().toSeq
    assert(got === expect && got.nonEmpty)
    assert(Dedup.labelsComputeCount.get() === before + 1)
    // both entries are now held: a second call in the session is a hit
    Dedup.dedupClusters(s, dir).count()
    assert(Dedup.labelsComputeCount.get() === before + 1)
    assert(Iterate.memoRddIds.nonEmpty)
  }

  test("label fixpoint without near-dup edges: empty labels, converged in one round") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-noedge").toString
    Seq((1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "one two three four", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (l, converged) = Dedup.computeClusterLabels(spark, dir, 3, 0.6, 1)
    assert(converged && l.count() == 0)
    assert(!Dedup.computeClusterLabels(spark, dir, 3, 0.6, 0)._2)
  }

  test("reliable mode: connectedComponents writes replicated checkpoints " +
      "and matches local-mode labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val local = graft.operators.Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toSeq.sorted
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    spark.conf.set(Iterate.ReliableFlag, "true")
    try {
      val rel = graft.operators.Dedup.connectedComponents(edges)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(rel === local)
      assert(rel === Seq((2L, 1L), (3L, 1L), (11L, 10L)))
      // the fixpoint actually wrote RDD blocks to the reliable dir
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(ckDir).iterator().asScala.toList
      assert(files.exists(_.getFileName.toString.startsWith("part-")),
        s"no checkpoint part files under $ckDir")
    } finally spark.conf.set(Iterate.ReliableFlag, "false")
  }

  test("reliable mode survives injected task failures mid-fixpoint " +
      "(RecoveryDrill in a retry-capable JVM)") {
    // task retries need a local[n, maxFailures] master, which the
    // shared session can't provide — spawn the drill in its own JVM
    // (same pattern as Bench's isolated mode) and require the marker
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val classes = new java.io.File(graft.Iterate.getClass
      .getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath
    val cp = classes + java.io.File.pathSeparator + "/opt/spark/jars/*"
    val modOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("graft-drill").toFile
    val outFile = new java.io.File(tmp, "out.txt")
    // the drill's checkpoint dir goes where this JVM's temp files go
    val tmpOpt = s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}"
    val pb = new ProcessBuilder(
      (Seq(javaBin, "-Xmx4g", tmpOpt) ++ modOpts ++
        Seq("-cp", cp, "graft.tools.RecoveryDrill")): _*)
    pb.directory(tmp)
    pb.redirectOutput(outFile)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    val finished = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    assert(finished, "RecoveryDrill timed out")
    val out = new String(
      java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
    assert(p.exitValue() == 0, s"RecoveryDrill exit ${p.exitValue()}: $out")
    assert(out.contains("DRILL_OK"), s"no DRILL_OK marker in: $out")
  }

  test("pagerank stops at the exact integer fixpoint before the cap") {
    // triangle (one order, three parts): symmetric, so after round 1
    // every rank is 333333333332 and round 2 reproduces it exactly —
    // the L1 probe reads 0 and the loop stops at round 2 of 10
    val dir = lineitemDir(Seq((1L, 10L), (1L, 20L), (1L, 30L)))
    val capped = graft.operators.Graph.pagerank(spark, dir, iters = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(graft.operators.Graph.lastRounds === 2)
    assert(capped.map(_._2).toSet === Set(333333333332L))
    // early stop returns the same ranks a full cap run would
    val full = graft.operators.Graph.pagerank(spark, dir, iters = 3,
        tolE12 = -1L) // negative tol: probe can never stop the loop
      .as[(Long, Long, Long)].collect().toSeq
    assert(graft.operators.Graph.lastRounds === 3)
    assert(full === capped)
  }

  test("triangleCensus: hand graph — one triangle plus a pendant edge") {
    // order 1 buys parts {10,20,30} (a triangle), order 2 buys {40,50}
    val dir = lineitemDir(Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (2L, 40L), (2L, 50L)))
    val got = graft.operators.Graph.triangleCensus(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // 5 nodes, 4 edges; wedges = 3 nodes of degree 2 -> 3; the one
    // triangle closes all of them: clustering = 3*1/3 = 1.0
    assert(got === Seq((5L, 4L, 3L, 1L, 1.0)))
  }

  test("localClustering: triangle corners score 1, bridge node dilutes, pendant drops") {
    // order 1 buys {10,20,30} (triangle); order 2 buys {30,40}: node 30
    // bridges (degree 3, one closed pair of three), node 40 is pendant
    val dir = lineitemDir(Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (2L, 30L), (2L, 40L)))
    val got = graft.operators.Graph.localClustering(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (10L, 2L, 1L, 1.0),
      (20L, 2L, 1L, 1.0),
      (30L, 3L, 1L, 0.333333)))
  }

  test("edgeSupport: shared-edge double triangle — histogram separates the spine") {
    // orders {10,20,30} and {20,30,40}: triangles 10-20-30 and
    // 20-30-40 share edge (20,30) -> support 2; the four rim edges
    // support 1
    val dir = lineitemDir(Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (2L, 20L), (2L, 30L), (2L, 40L)))
    val got = graft.operators.Graph.edgeSupport(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 4L, 3L), (2L, 1L, 4L)))
  }

  test("kTrussPeel: shared-edge triangles survive k=3, dissolve at k=4; clique holds") {
    import org.apache.spark.sql.functions.col
    val edges = Seq((10L, 20L), (10L, 30L), (20L, 30L), (20L, 40L), (30L, 40L))
      .toDF("pa", "pb")
    val k3 = graft.operators.Graph.kTrussPeel(edges, k = 3)
      .as[(Long, Long)].collect().toSeq
    assert(k3 === Seq((10L, 20L), (10L, 30L), (20L, 30L), (20L, 40L), (30L, 40L)))
    // k=4 needs every edge in >= 2 triangles: the spine survives round
    // 1 alone, then has no triangle -> empty fixpoint
    assert(graft.operators.Graph.kTrussPeel(edges, k = 4).isEmpty)
    // 4-clique: every edge sits in exactly 2 triangles -> 4-truss keeps all 6
    val clique = (for { a <- Seq(1L, 2L, 3L, 4L); b <- Seq(1L, 2L, 3L, 4L)
      if a < b } yield (a, b)).toDF("pa", "pb")
    assert(graft.operators.Graph.kTrussPeel(clique, k = 4).count() === 6L)
  }

  test("degreeAssortativity: star graph scores exactly -1") {
    // one order with parts {10,20,30} would be a triangle (r undefined,
    // zero variance); a star — center 10 co-purchased with 20 and 30
    // in separate orders — is the classic perfectly-disassortative case
    val dir = lineitemDir(Seq(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 30L)))
    val got = graft.operators.Graph.degreeAssortativity(spark, dir)
      .as[(Long, Option[Double])].collect().head
    assert(got === ((4L, Some(-1.0))))
    // degree-regular graph: zero variance -> NULL, not noise
    val tri = lineitemDir(Seq((1L, 10L), (1L, 20L), (1L, 30L)))
    val reg = graft.operators.Graph.degreeAssortativity(spark, tri)
      .as[(Long, Option[Double])].collect().head
    assert(reg === ((6L, None)))
  }

  test("pagerank tolE12 loosens the stop: path graph halts once drift <= tol") {
    // path 10-20-30 keeps drifting by small floors; a loose tol stops
    // it well before a tight one does
    val dir = lineitemDir(Seq((1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L)))
    graft.operators.Graph.pagerank(spark, dir, iters = 40,
      tolE12 = 20000000000L).collect()
    val loose = graft.operators.Graph.lastRounds
    graft.operators.Graph.pagerank(spark, dir, iters = 40, tolE12 = 10L)
      .collect()
    val tight = graft.operators.Graph.lastRounds
    assert(loose < tight && tight <= 40,
      s"loose=$loose tight=$tight")
  }

  test("bfsHops: path graph — min hop per node, unreachable excluded") {
    // co-purchase path 1-2-3-4 (orders pairing consecutive parts) plus
    // a disconnected island {5,6}. Degrees: 2 and 3 tie at 2; lowest
    // partkey wins, so the seed is part 2.
    val dir = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L)))
    val out = graft.operators.Graph.bfsHops(spark, dir)
      .as[(Long, Int)].collect().toSeq
    assert(out === Seq((2L, 0), (1L, 1), (3L, 1), (4L, 2)))
    // tighter cap: the hop-2 node drops out
    val capped = graft.operators.Graph.bfsHops(spark, dir, maxHops = 1)
      .as[(Long, Int)].collect().toSeq
    assert(capped === Seq((2L, 0), (1L, 1), (3L, 1)))
  }

  test("brandModularity: hand graph — Q = -1/36 per brand, -1/18 total") {
    // pairs: (1,2) w=2 from orders 1,2; (2,3) w=1 from order 3.
    // brands: parts 1,2 = A, part 3 = B. W=3, wdeg 1→2, 2→3, 3→1.
    // Q_A = 2/3 − (5/6)² = −1/36; Q_B = 0 − (1/6)² = −1/36
    val dir = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 2L), (3L, 3L)))
    Seq((1L, "A"), (2L, "A"), (3L, "B"))
      .map { case (pk, b) => (pk, s"part$pk", b, "t", 1, 1.0) }
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Iterate.clearMemo()
    val out = graft.operators.Graph.brandModularity(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      ("A", 2L, 2L, 5L, -0.027778),
      ("B", 1L, 0L, 1L, -0.027778),
      ("__total__", 3L, 2L, 6L, -0.055556)))
  }

  test("weightedSssp: heavy edges are short, hop cap prunes the far tail") {
    // path 1-2-3-4 with w=3 per edge plus a weak 1-4 shortcut (w=1).
    // maxW=3 → path edges cost 1, shortcut costs 3. Seed: all degrees
    // tie at 2, lowest partkey wins → 1.
    val rows = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L),  // (1,2) w=3
      (4L, 2L), (4L, 3L), (5L, 2L), (5L, 3L), (6L, 2L), (6L, 3L),  // (2,3) w=3
      (7L, 3L), (7L, 4L), (8L, 3L), (8L, 4L), (9L, 3L), (9L, 4L),  // (3,4) w=3
      (10L, 1L), (10L, 4L))                                         // (1,4) w=1
    val dir = lineitemDir(rows)
    val full = graft.operators.Graph.weightedSssp(spark, dir)
      .as[(Long, Long)].collect().toSeq
    // 4 is cost 3 both ways (3 cheap hops = weak direct edge)
    assert(full === Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
    // one hop only: 3 is unreachable, 4 still lands via the costly
    // shortcut — hop-bounded semantics, not cost-bounded
    val oneHop = graft.operators.Graph.weightedSssp(spark, dir, maxHops = 1)
      .as[(Long, Long)].collect().toSeq
    assert(oneHop === Seq((1L, 0L), (2L, 1L), (4L, 3L)))
  }

  test("labelPropagation: two triangles with a weak bridge split cleanly") {
    // triangles {1,2,3} and {4,5,6} with internal w=2 (two orders
    // each), bridged by one weak (3,4) order. Two synchronous rounds
    // settle each triangle on its minimum member label; the bridge
    // never outvotes the w=2 internal edges.
    val dir = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 4L), (3L, 5L), (3L, 6L), (4L, 4L), (4L, 5L), (4L, 6L),
      (5L, 3L), (5L, 4L)))
    val out = graft.operators.Graph.labelPropagation(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 3L), (5L, 4L, 3L), (6L, 4L, 3L)))
  }

  test("itemCfRecs: unowned neighbor recommended, full owners get nothing") {
    // baskets: o1(c1)={1,2}, o2(c2)={2,3}, o3(c1)={2,3} → co-purchase
    // w(1,2)=1, w(2,3)=2. c1 owns {1,2,3} → nothing left to recommend;
    // c2 owns {2,3} → only candidate is part 1 via the (1,2) edge.
    val dir = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 2L), (3L, 3L)))
    Seq((1L, 1L), (2L, 2L), (3L, 1L))
      .map { case (ok, ck) => (ok, ck, "O", 1.0,
        new java.sql.Timestamp(0L), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.operators.Graph.itemCfRecs(spark, dir)
      .as[(Long, Int, Long, Long, Long)].collect().toSeq
    assert(out === Seq((2L, 1, 1L, 1L, 1L)))
  }

  test("cfHoldoutEval: last-basket item is recommended from train-only signal") {
    // c1 trains on day-0 baskets {1,2},{2,3} and holds out day-1 {4};
    // c2 (single date → excluded from eval) buys {3,4} on day 0,
    // giving train the (3,4) edge that recommends part 4 to c1.
    val day = 86400000L
    val dir = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 4L)))
    Seq((1L, 1L, 0L), (2L, 1L, 0L), (3L, 1L, day), (4L, 2L, 0L))
      .map { case (ok, ck, ms) => (ok, ck, "O", 1.0,
        new java.sql.Timestamp(ms), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.operators.Graph.cfHoldoutEval(spark, dir)
      .as[(Long, Long, Double, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq((1L, 1L, 1.0, 1L, 1L, 0.333333, 1.0)))
  }

  test("frequentTriples: Apriori prune kills the triple missing a pair") {
    // {1,2,3} twice → all three pairs frequent, triple support 2.
    // {4,5}x2 and {4,6}x2 make (4,5) and (4,6) frequent but never
    // (5,6) — candidate (4,5,6) must be PRUNED, not counted to zero.
    val dir = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 2L),
      (4L, 4L), (4L, 5L), (5L, 4L), (5L, 5L),
      (6L, 4L), (6L, 6L), (7L, 4L), (7L, 6L)))
    val out = graft.operators.Graph.frequentTriples(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L, 3L, 2L)))
  }
}
