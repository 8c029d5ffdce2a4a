package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.{SparkEntry, Tables}
import graft.operators.WritePath
import graft.sources.Jdbc

/** Closed-loop benchmark harness: one client, one operation at a time.
  *
  * A run is: set-up (Spark session built, then a warm-up pass that runs
  * every operation of the workload once, exactly as a timed pass does),
  * then timed passes until `--seconds` have elapsed and at least
  * [[MinPasses]] have run. Each timed pass
  * runs every operation once, in a seed-shuffled order, in a fresh
  * session, so the program's per-session memos start cold as in a new
  * production session. Every pass writes its outputs under
  * `<out>/work/<pass tag>`; `run.py` checks them and derives the metrics
  * from `<out>/result.json`.
  *
  * Layers are timed from outside, around the calls into the program's
  * public functions: `SparkEntry.queries(name)(spark, dir)` is the
  * build, writing its result to Parquet is the execute, and
  * `WritePath.migrate`, `WritePath.upsert`, `Jdbc.writeTable` and
  * `Jdbc.readTable` are the write path. With `--trace 1` half the timed
  * passes also register the [[Ledger]] listeners and drain the listener
  * bus after each phase.
  */
object PerfBench {

  private def secs(ns: Long): Double = ns / 1e9

  /** The fewest timed passes a run makes; the median of three rejects
    * one slow pass. At the benchmark's 10 s window this, not the window,
    * sets how many passes a run makes: passes keep getting faster for
    * six or more passes as the JIT compiles, so a pass count that moved
    * with the host's speed would move the median pass with it.
    */
  val MinPasses = 3

  /** One workload: its registered queries, in groups whose order the
    * seed shuffles (queries within a group share a per-session memo and
    * keep their order), and, for the reference workload, the write path
    * legs that run before them in every pass: tables to migrate with
    * their keys, tables to copy through JDBC with their partition
    * column, and the upsert.
    */
  final case class Workload(groups: Seq[Seq[String]],
                            migrate: Seq[(String, Seq[String])] = Nil,
                            jdbc: Seq[(String, String)] = Nil,
                            upsert: Boolean = false) {
    def queries: Seq[String] = groups.flatten
  }

  val workloads: Map[String, Workload] = Map(
    // q38 pays the near-duplicate label fixpoint that q108 reuses
    "curation" -> Workload(Seq(Seq("q38_dedup_clusters", "q108_dedup_report"),
      Seq("q37_knn_ivf"))),
    // the reference's product (migrate) and its analytics queries;
    // lineitem's keys are the whole row: no smaller column set is
    // unique, and migrate's default (the first column) drops rows
    "reference" -> Workload(Seq(Seq("q02_latest_event_per_user"),
      Seq("q03_popularity"), Seq("q04_difficulty"), Seq("q543_streaming_cdc")),
      migrate = Seq("lineitem" -> Tables.schemas("lineitem").fieldNames.toSeq),
      jdbc = Seq("orders" -> "o_orderkey"), upsert = true))

  // ------------------------------------------------------------------
  // spans and per-phase counters
  // ------------------------------------------------------------------

  final class Span(val id: Int, val name: String, val parent: Int,
                   val op: Int, val start: Long) { var end: Long = 0L }

  /** In-memory span buffer plus the traced-pass counter bookkeeping. */
  final class Recorder(t0: Long) {
    val spans = mutable.ArrayBuffer[Span]()
    private var stack: List[Span] = Nil
    var ledger: Option[(Ledger, SparkSession)] = None
    private var last = Map.empty[String, Double]
    val phases = mutable.Map[String, mutable.Map[String, Double]]()

    def span[T](name: String, isOp: Boolean = false)(f: => T): T = {
      val parent = stack.headOption
      val id = spans.size
      val op = if (isOp) id else parent.map(_.op).getOrElse(-1)
      val s = new Span(id, name, parent.map(_.id).getOrElse(-1), op,
        System.nanoTime() - t0)
      spans += s
      stack = s :: stack
      try f finally { s.end = System.nanoTime() - t0; stack = stack.tail }
    }

    /** A span whose listener counts (traced passes only) are charged
      * to `phase`. Returns the result and the span's seconds; the drain
      * happens after the span closes and is not part of them.
      */
    def phase[T](name: String, phase: String)(f: => T): (T, Double) = {
      val t = System.nanoTime()
      try { val r = span(name)(f); (r, secs(System.nanoTime() - t)) }
      finally settle(phase)
    }

    private def settle(phase: String): Unit = ledger.foreach { case (l, spark) =>
      PerfbenchBridge.drain(spark.sparkContext)
      val now = l.snapshot()
      val acc = phases.getOrElseUpdate(phase, mutable.Map())
      now.foreach { case (k, v) =>
        val d = v - last.getOrElse(k, 0.0)
        if (d != 0) acc(k) = acc.getOrElse(k, 0.0) + d
      }
      last = now
    }

    def startPass(l: Option[(Ledger, SparkSession)]): Unit = {
      ledger = l
      phases.clear()
      last = l.map(_._1.snapshot()).getOrElse(Map.empty)
    }
  }

  // ------------------------------------------------------------------
  // one pass
  // ------------------------------------------------------------------

  final case class OpResult(name: String, buildS: Double, execS: Double,
                            error: Option[String], cuts: Int)

  /** Where a pass runs; its outputs go under `<out>/work/<tag>`. */
  final class PassCtx(val spark: SparkSession, val dir: String,
                      val out: Path, val tag: String, val delta: String,
                      val rec: Recorder, val cpus: Int) {
    def work(name: String): String =
      out.resolve("work").resolve(tag).resolve(name).toString
  }

  private def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def runQuery(c: PassCtx, name: String): OpResult = {
    val fn = SparkEntry.queries(name)
    var b, e = 0.0
    var cuts = 0
    var err: Option[String] = None
    c.rec.span(name, isOp = true) {
      try {
        val before = if (c.rec.ledger.isDefined) persistentIds(c.spark) else Set.empty[Int]
        val (df, bs) = c.rec.phase("build", "build")(fn(c.spark, c.dir))
        b = bs
        if (c.rec.ledger.isDefined)
          cuts = (persistentIds(c.spark) -- before).size
        // part files are numbered in partition order, so a sorted result
        // reads back in order from the sorted file names
        e = c.rec.phase("execute", "execute") {
          df.write.mode(SaveMode.Overwrite).parquet(c.work(s"q/$name"))
        }._2
      } catch { case NonFatal(x) => err = Some(String.valueOf(x.getMessage)) }
    }
    OpResult(name, b, e, err, cuts)
  }

  /** A write-path op: one timed call, counters charged to "write";
    * its seconds are reported in the execute column.
    */
  private def runWrite(c: PassCtx, name: String)(f: => Unit): OpResult = {
    var err: Option[String] = None
    var callS = 0.0
    c.rec.span(name, isOp = true) {
      try callS = c.rec.phase("call", "write")(f)._2
      catch { case NonFatal(x) => err = Some(String.valueOf(x.getMessage)) }
    }
    OpResult(name, 0, callS, err, 0)
  }

  private def derbyUrl(tag: String, create: Boolean): String =
    s"jdbc:derby:memory:perfbench_$tag;" + (if (create) "create=true" else "drop=true")

  /** Write path legs: fresh migrate, rerun migrate, JDBC, upsert. */
  private def writeLegs(c: PassCtx, w: Workload,
                        migrated: mutable.Map[String, Long]): Seq[OpResult] = {
    val dest = c.work("dest")
    val res = mutable.ArrayBuffer[OpResult]()
    for (round <- Seq("fresh", "rerun"); (t, keys) <- w.migrate) {
      res += runWrite(c, s"migrate.$round.$t") {
        migrated(s"$round.$t") =
          WritePath.migrate(c.spark, c.dir, dest, Seq(t), Map(t -> keys))(t)
      }
    }
    if (w.jdbc.nonEmpty) {
      val cfg = Jdbc.JdbcConfig(derbyUrl(c.tag, create = true))
      res += runWrite(c, "jdbc.write") {
        w.jdbc.foreach { case (t, _) =>
          Jdbc.writeTable(Tables.load(c.spark, c.dir, t), cfg, t.toUpperCase)
        }
      }
      res += runWrite(c, "jdbc.read") {
        w.jdbc.foreach { case (t, k) =>
          noop(Jdbc.readTable(c.spark, cfg, t.toUpperCase, Some(k), c.cpus))
        }
      }
    }
    if (w.upsert) res += runWrite(c, "upsert") {
      WritePath.upsert(Tables.load(c.spark, c.dir, "customer"),
          c.spark.read.parquet(c.delta), Seq("c_custkey"), "version")
        .write.mode(SaveMode.Overwrite).parquet(c.work("upsert"))
    }
    res.toSeq
  }

  /** Reads each JDBC table of a pass back and compares it with its
    * source. Runs untimed, after the pass and before its clean-up drops
    * the database.
    */
  private def jdbcCompare(c: PassCtx, w: Workload): Map[String, Map[String, Any]] =
    w.jdbc.map { case (t, k) =>
      t -> (try {
        val cfg = Jdbc.JdbcConfig(derbyUrl(c.tag, create = true))
        val back = Jdbc.readTable(c.spark, cfg, t.toUpperCase, Some(k), c.cpus)
        val src = Tables.load(c.spark, c.dir, t)
        val n = back.count()
        Map[String, Any]("rows" -> n, "equal" -> (n == src.count() &&
          src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty))
      } catch {
        case NonFatal(x) => Map[String, Any]("rows" -> 0, "equal" -> false,
          "error" -> String.valueOf(x.getMessage))
      })
    }.toMap

  final case class PassResult(tag: String, traced: Boolean, wallS: Double,
                              gcDriverS: Double, cpuS: Double,
                              host: (Long, Long), ops: Seq[OpResult],
                              migrated: Map[String, Long],
                              phases: Map[String, Map[String, Double]])

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** This machine's busy and stolen CPU time so far, in clock ticks
    * summed over its CPUs, from the first line of /proc/stat: busy is
    * user, nice, system, irq and softirq time; stolen is time the host
    * ran something else while one of these CPUs was ready to run.
    */
  private def hostTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  private def hostTicksSince(t0: (Long, Long)): (Long, Long) = {
    val t = hostTicks()
    (t._1 - t0._1, t._2 - t0._2)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def runPass(c: PassCtx, w: Workload, order: Seq[String],
              traced: Boolean): PassResult = {
    val ledger = if (traced) {
      val l = new Ledger
      c.spark.sparkContext.addSparkListener(l)
      c.spark.listenerManager.register(l)
      c.spark.streams.addListener(l.streaming)
      Some(l -> c.spark)
    } else None
    c.rec.startPass(ledger)
    val migrated = mutable.Map[String, Long]()
    val (gc0, cpu0, host0) = (gcMillis(), cpuNanos(), hostTicks())
    val t = System.nanoTime()
    val ops = c.rec.span("pass") {
      writeLegs(c, w, migrated) ++ order.map(q => runQuery(c, q))
    }
    val wall = secs(System.nanoTime() - t)
    val gc = (gcMillis() - gc0) / 1e3
    val (cpu, host) = (secs(cpuNanos() - cpu0), hostTicksSince(host0))
    ledger.foreach { case (l, s) =>
      PerfbenchBridge.drain(s.sparkContext)
      s.sparkContext.removeSparkListener(l)
      s.listenerManager.unregister(l)
      s.streams.removeListener(l.streaming)
    }
    PassResult(c.tag, traced, wall, gc, cpu, host, ops, migrated.toMap,
      c.rec.phases.map { case (k, v) => k -> v.toMap }.toMap)
  }

  /** Drop what one pass leaves behind, outside any timed region, and
    * return the heap in use after a collection: what the program keeps
    * alive from one pass to the next, in MB.
    */
  private def cleanPass(c: PassCtx): Double = {
    c.spark.catalog.clearCache()
    c.spark.sparkContext.getPersistentRDDs.values
      .foreach(r => try r.unpersist(blocking = true) catch { case NonFatal(_) => () })
    // a successful drop is reported as an SQLException
    try java.sql.DriverManager.getConnection(derbyUrl(c.tag, create = false)).close()
    catch { case _: java.sql.SQLException => () }
    deleteTree(Paths.get(c.work("dest")))
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)

  // ------------------------------------------------------------------
  // session and main
  // ------------------------------------------------------------------

  private def session(cpus: Int, out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the graded bench's scan settings (graft.Bench.sweep)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.cleaner.periodicGC.interval", "60s")
      // keep the status store small: it grows with every job otherwise
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", out.resolve("work/spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("work/warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val arg = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workloads(arg("workload"))
    val (dir, seed, cpus) = (arg("data"), arg("seed").toLong, arg("cpus").toInt)
    val trace = arg("trace") == "1"
    val out = Paths.get(arg("out"))
    val delta = out.resolve("work/delta.parquet").toString
    val rec = new Recorder(t0)
    val host0 = hostTicks()

    // set-up: session, then a warm-up pass identical to a timed pass
    val (spark, sessionS) = rec.phase("setup.session", "setup")(session(cpus, out))
    val warm = new PassCtx(spark, dir, out, "warm", delta, rec, cpus)
    val (warmPass, warmupS) = rec.phase("setup.warmup", "setup")(
      runPass(warm, w, w.queries, traced = false))
    val setupHost = hostTicksSince(host0)
    val jdbc = jdbcCompare(warm, w)
    cleanPass(warm)

    // timed passes: closed loop until the measuring window has elapsed
    // and MinPasses (four when traced) have run. Traced runs trace
    // passes 1 and 2 of every four (untraced, traced, traced,
    // untraced), so warm-up drift cancels out of the overhead estimate.
    // Memory is read after the second timed pass, so it does not depend
    // on how many passes fit in the window.
    val passes = mutable.ArrayBuffer[PassResult]()
    var rss, liveHeapMb = 0.0
    val tm = System.nanoTime()
    def elapsed = secs(System.nanoTime() - tm)
    def needMore = passes.size < (if (trace) 4 else MinPasses) ||
      elapsed < arg("seconds").toDouble
    // one generator for the whole run, its seed mixed: java.util.Random
    // seeded with neighbouring values draws the same first shuffles
    val rng = new Random(scala.util.hashing.byteswap64(seed))
    while (needMore) {
      val p = passes.size
      val order = rng.shuffle(w.groups).flatten
      val c = new PassCtx(spark.newSession(), dir, out, s"p$p", delta, rec, cpus)
      passes += runPass(c, w, order, traced = trace && (p % 4 == 1 || p % 4 == 2))
      val live = cleanPass(c)
      if (p == 1) { rss = vmHwmMb(); liveHeapMb = live }
    }
    val measureS = elapsed
    spark.stop()

    def record(p: PassResult) = Map("tag" -> p.tag, "traced" -> p.traced,
      "wall_s" -> p.wallS, "gc_driver_s" -> p.gcDriverS, "cpu_s" -> p.cpuS,
      "host_ticks" -> Seq(p.host._1, p.host._2), "migrated" -> p.migrated,
      "phases" -> p.phases, "ops" -> p.ops.map(o => Map("name" -> o.name,
        "build_s" -> o.buildS, "exec_s" -> o.execS, "cuts" -> o.cuts,
        "error" -> o.error)))
    val result = Map(
      "workload" -> arg("workload"), "cpus" -> cpus, "seed" -> seed,
      "all_queries" -> workloads.map { case (k, v) => k -> v.queries },
      "jvm_s" -> (enteredMs - arg("launch-ms").toLong) / 1e3,
      "session_s" -> sessionS, "warmup_s" -> warmupS,
      "setup_host_ticks" -> Seq(setupHost._1, setupHost._2),
      "measure_s" -> measureS, "peak_rss_mb" -> rss, "live_heap_mb" -> liveHeapMb,
      "warmup" -> record(warmPass), "jdbc" -> jdbc,
      "passes" -> passes.map(record),
      "oracle" -> w.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "spans" -> rec.spans.map(s => Seq(s.id, s.name, s.parent, s.op,
        s.start / 1e9, s.end / 1e9)))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(out.resolve("result.json"), json.writeValueAsBytes(result))
  }
}
