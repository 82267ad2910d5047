package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{CacheScope, GraftSession, Preflight, SparkEntry, TableDef}
import graft.app.{DbDiffApp, ReportSink}
import graft.operators.{Normalize, RenderQueries, SnapshotDiff}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The dbdiffspark benchmark harness: one JVM per run, one workload per run.
  *
  * `main` takes the path of a JSON config written by `run.py` (workload,
  * seed, seconds, trace flag, fixture paths, expected outputs) and writes a
  * JSON artifact with every metric, its unit and its sample count. All
  * calls go through the program's public API; the traced run additionally
  * attaches [[Tap]] (a SparkListener + QueryExecutionListener) and wraps
  * the same public calls `DbDiffApp.iterate` makes in spans ([[Replay]]).
  */
object PerfBench {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new java.io.File(args(0)))
    val run = new Run(cfg)
    try run.execute()
    finally run.stop()
  }

  def now(): Long = System.nanoTime()

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of every live Java thread, in ns by thread id: the driver,
    * Spark's task, scheduler and shuffle threads. The JIT compiler and GC
    * threads are not among them. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Driver heap in use after a full GC, in MB. Each GC lets Spark's
    * ContextCleaner release what the previous one found unreachable, so
    * GCs repeat (at most 5) until the heap stops shrinking by 1 MB. */
  def heapMb(): Double = {
    def used(): Double = {
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
    var last = used()
    var gcs = 1
    var shrank = true
    while (shrank && gcs < 5) {
      Thread.sleep(300)
      val cur = used()
      gcs += 1
      shrank = cur < last - 1.0
      last = math.min(cur, last)
    }
    last
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.reverse.foreach(Files.deleteIfExists(_))
  }
}

import PerfBench._

/** One metric's samples. */
final case class Metric(unit: String, samples: Seq[Double]) {
  def value: Double = if (samples.isEmpty) 0.0 else median(samples)
}

/** A benchmark run: set-up, the workload's rounds, checks, the artifact. */
final class Run(cfg: JsonNode) {
  private val workload = cfg.get("workload").asText()
  private val seed = cfg.get("seed").asLong()
  private val seconds = cfg.get("seconds").asDouble()
  private val traced = cfg.get("trace").asInt() == 1
  private val cpus = cfg.get("cpus").asText()
  private val minRounds = cfg.get("min_rounds").asInt()
  private val maxRounds = cfg.get("max_rounds").asInt()
  private val setupReps = cfg.get("setup_reps").asInt()
  private val work = Paths.get(cfg.get("work").asText())

  private var spark: SparkSession = _
  private val metrics = scala.collection.mutable.LinkedHashMap[String, Metric]()
  private val failures = scala.collection.mutable.ArrayBuffer[String]()
  /** name -> (wall-clock s, CPU s) */
  private val rounds = scala.collection.mutable.ArrayBuffer[(String, (Double, Double))]()
  private val queryTimes = scala.collection.mutable.LinkedHashMap[String, Timing]()
  private var attempted = 0
  private var fixtureS = 0.0

  private def put(name: String, unit: String, samples: Seq[Double]): Unit =
    metrics(name) = Metric(unit, samples)
  private def put1(name: String, unit: String, v: Double): Unit = put(name, unit, Seq(v))

  /** The steady-state rounds: the second half of the warm rounds (the
    * first round is cold, and the JIT still speeds up the early warm
    * ones). */
  private def steady(rounds: Seq[Double]): Seq[Double] = {
    val warm = rounds.drop(1)
    warm.drop(warm.size / 2)
  }
  private def fail(msg: String): Unit = { failures += msg; () }

  /** End-to-end timings of repeated intervals: the CPU seconds the Java
    * threads spent in them ([[PerfBench.threadCpu]]; a thread that ends
    * inside an interval drops out of it), which the end-to-end metrics
    * report, and the wall-clock seconds. */
  private final class Timing {
    val cpu, wall = scala.collection.mutable.ArrayBuffer[Double]()
    private var c0 = Map.empty[Long, Long]
    private var w0 = 0L
    def start(): Unit = { c0 = threadCpu(); w0 = now() }
    /** Ends the interval; returns its wall-clock seconds. */
    def stop(): Double = {
      wall += secs(w0)
      cpu += threadCpu().map { case (id, t) => t - c0.getOrElse(id, 0L) }.sum / 1e9
      wall.last
    }
    /** Metric `cpuName` from the CPU samples and `wallName` from the
      * wall-clock ones, both reduced by `f`. */
    def put(cpuName: String, wallName: String, f: Seq[Double] => Seq[Double] = identity): Unit = {
      Run.this.put(cpuName, "s", f(cpu.toSeq))
      Run.this.put(wallName, "s", f(wall.toSeq))
    }
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def newSession(): Double = {
    stop()
    val t0 = now()
    spark = GraftSession.create(cpus, "perfbench")
    secs(t0)
  }

  def execute(): Unit = {
    workload match {
      case "loop_jdbc_churn" => new Loop().run()
      case "registry"        => runRegistry()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    writeArtifact()
  }

  // ---------------------------------------------------------------- loops

  /** `loop_jdbc_churn`: the real `DbDiffApp.iterate` over embedded Derby
    * with pinned snapshots, seeded bulk DML between iterations, xlsx report
    * and change feed. */
  private final class Loop {
    private val derbyUrl = s"jdbc:derby:memory:perfbench_$seed;create=true"
    private val feedRoot = work.resolve("feed")
    /** Expected change set of the NEXT iterate: table -> (upd, del, ins). */
    private var pending: Map[String, (Long, Long, Long)] = Map.empty
    private var dmlRound = 0

    private def source(): TableDef => DataFrame = DbDiffApp.jdbcSource(spark, derbyUrl, "APP")

    private def catalog(): Seq[TableDef] = DbDiffApp.jdbcTables(spark, "derby", derbyUrl, "APP")

    private def newApp(tabs: Seq[TableDef]): DbDiffApp =
      new DbDiffApp(spark, tabs, source(), consoleOut = _ => (),
        pinSnapshots = true, feedDir = feedRoot.toString)

    def run(): Unit = {
      val fx0 = now()
      loadDerby()
      fixtureS = secs(fx0)

      // set-up, repeated: session + catalog + the before snapshot
      var app: DbDiffApp = null
      var tabs: Seq[TableDef] = Nil
      val setup = new Timing
      val sess, cat = scala.collection.mutable.ArrayBuffer[Double]()
      for (_ <- 1 to setupReps) {
        setup.start()
        sess += newSession()
        val c0 = now()
        tabs = catalog()
        cat += secs(c0)
        app = newApp(tabs)
        setup.stop()
      }
      setup.put("setup_s", "setup_wall_s")
      val tap = if (traced) Some(new Tap(spark)) else None

      // the measured rounds: first (cold) iterate, then warm ones until the
      // window is spent; the user's action runs before each, untimed
      val iters = new Timing
      val heap = scala.collection.mutable.ArrayBuffer[Double]()
      val perIter = scala.collection.mutable.ArrayBuffer[Tap.Delta]()
      val w0 = now()
      var i = 0
      while (i < minRounds || (secs(w0) < seconds && i < maxRounds)) {
        i += 1
        userAction(tabs)
        // traced runs alternate: every second warm iteration carries the
        // listeners, the ones around it do not (trace.overhead)
        val withTap = tap.filter(_ => i > 1 && (i - 1) % 2 == 0)
        withTap.foreach(_.enable(true))
        val before = withTap.map(_.snapshot())
        val out = work.resolve(s"report_$i.xlsx").toString
        attempted += 1
        iters.start()
        val r = try Some(app.iterate(out)) catch {
          case e: Throwable => fail(s"iterate $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
        }
        val dt = iters.stop()
        withTap.foreach { tp => perIter += tp.delta(before.get, dt); tp.enable(false) }
        rounds += (s"iterate_$i${if (withTap.nonEmpty) "_traced" else ""}" -> (dt, iters.cpu.last))
        r.foreach(check(i, _, out))
        tap.foreach(_.sampleCache())
        heap += heapMb()
      }
      val windowS = secs(w0)
      iters.put("first_iter_cpu_s", "first_iter_s", _.take(1))
      iters.put("iter_cpu_s", "iter_s", steady)
      iters.put("pass_cpu_s", "pass_s", xs => Seq(xs.take(minRounds).sum))
      // one iterate answers one user action
      iters.put("query_p50_cpu_s", "query_p50_s", xs => Seq(quantile(steady(xs), 0.5)))
      iters.put("query_p90_cpu_s", "query_p90_s", xs => Seq(quantile(steady(xs), 0.9)))
      put("heap_mb", "MB", heap.toSeq)
      put1("window_s", "s", windowS)

      tap.foreach { tp =>
        put("session.create_s", "s", sess.toSeq)
        put("sources.catalog_s", "s", cat.toSeq)
        val untracedWarm = iters.wall.zipWithIndex.collect { case (s, k) if k > 0 && k % 2 == 1 => s }
        val tracedWarm = perIter.map(_.wall)
        appMetrics(perIter.toSeq)
        val cover = replay(tp, tabs)
        put1("trace.coverage", "ratio", cover / median(tracedWarm.toSeq))
        put1("trace.overhead", "ratio", median(tracedWarm.toSeq) / median(untracedWarm.toSeq))
        cacheMetrics(tp)
        opsMetrics(Map.empty)
      }
    }

    /** Applies the next user action and records its expected change set. */
    private def userAction(tabs: Seq[TableDef]): Unit = {
      dmlRound += 1
      pending = tabs.map(t => t.name -> churn(t)).toMap
    }

    /** The loop's output checks: changed keys per table, report rows and
      * feed rows against the DML's change set. */
    private def check(i: Int, r: DbDiffApp.IterationResult, out: String): Unit = {
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      pending.foreach { case (t, (u, d, n)) =>
        val got = r.changedKeys.find(_._1.equalsIgnoreCase(t)).map(_._2).getOrElse(-1L)
        if (got != u + d + n) errs += s"$t changedKeys=$got want ${u + d + n}"
      }
      val wantRows = pending.values.map { case (u, d, n) => 2 * u + d + n }.sum
      val reportRows = xlsxRows(out)
      if (reportRows != wantRows) errs += s"report rows=$reportRows want $wantRows"
      r.feedPath.foreach { p =>
        val fr = spark.read.parquet(p).count()
        if (fr != wantRows) errs += s"feed rows=$fr want $wantRows"
      }
      if (errs.nonEmpty) fail(s"iterate $i: " + errs.mkString("; "))
      Files.deleteIfExists(Paths.get(out))
    }

    // ------------------------------------------------------------ Derby

    private def jdbc[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(derbyUrl)
      try f(c) finally c.close()
    }

    /** Fixture preparation (not a metric): the lake's tables bulk-imported
      * into embedded Derby from CSV, with declared NOT NULL primary keys. */
    private def loadDerby(): Unit = cfg.get("derby").elements().asScala.foreach { t =>
      jdbc { c =>
        val st = c.createStatement()
        st.execute(t.get("ddl").asText())
        val call = c.prepareCall(
          "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, ?, ?, ',', '\"', 'UTF-8', 0)")
        call.setString(1, t.get("table").asText())
        call.setString(2, t.get("csv").asText())
        call.execute()
      }
    }

    /** Seeded bulk DML on one table, ~25 % of its keys: one key residue
      * class (mod 8) has a column updated, and one (mod 16) is moved to
      * fresh keys, which the diff sees as that many deletes and as many
      * inserts. The classes are disjoint, and a move keeps a key's residue,
      * so the table keeps its size and every round changes the same share
      * of it whatever the seed. Returns the row counts (upd, del, ins). */
    private def churn(t: TableDef): (Long, Long, Long) = {
      val rnd = new java.util.Random(seed * 7919 + dmlRound * 31 + t.name.hashCode)
      val u = rnd.nextInt(8)
      val m = (u + 1 + rnd.nextInt(7)) % 8 + 8 * rnd.nextInt(2) // != u (mod 8)
      val k = t.pk.head.toUpperCase
      val tab = t.name.toUpperCase
      val (uc, delta) = Loop.updates(t.name.toLowerCase)
      // every key is below 1e7 plus a sum of distinct offsets: no key collides
      val off = 10000000L << dmlRound
      jdbc { conn =>
        val st = conn.createStatement()
        val nu = st.executeUpdate(s"UPDATE $tab SET $uc = $uc + $delta WHERE MOD($k, 8) = $u")
        val nm = st.executeUpdate(s"UPDATE $tab SET $k = $k + $off WHERE MOD($k, 16) = $m")
        (nu.toLong, nm.toLong, nm.toLong)
      }
    }

    // ----------------------------------------------------------- replay

    /** One more iteration replayed as the public calls `iterate` makes, in
      * its order, each wrapped in a span; plus `diff.eval_s`, every table's
      * one-winner diff evaluated once to a `noop` sink. Returns the summed
      * wall time of the spans that mirror `iterate`. */
    private def replay(tap: Tap, tabs: Seq[TableDef]): Double = {
      val spans = scala.collection.mutable.ArrayBuffer[Double]()
      def span[A](name: String)(f: => A): (A, Tap.Delta) = {
        val b = tap.snapshot()
        val t0 = now()
        val a = f
        val d = tap.delta(b, secs(t0))
        put1(name, "s", d.wall)
        (a, d)
      }
      def snapshot(dir: Path): Map[String, DataFrame] = tabs.map { t =>
        val p = dir.resolve(t.name).toString
        source()(t).write.parquet(p)
        t.name -> spark.read.parquet(p)
      }.toMap

      tap.enable(true)
      val pinRoot = work.resolve("replay_pin")
      val before = snapshot(pinRoot.resolve("before")) // as the app holds it
      userAction(tabs)
      val (after, snap) = span("sources.snapshot_s")(snapshot(pinRoot.resolve("after")))
      spans += snap.wall
      put1("sources.rows_read", "count", snap.rowsRead.toDouble)
      put1("sources.bytes_read", "bytes", snap.bytesRead.toDouble)
      put1("sources.pin_bytes", "bytes", dirBytes(pinRoot.resolve("after")).toDouble)

      val diffs = tabs.map(t => t -> SnapshotDiff.diffOneWinner(before(t.name), after(t.name), t.pk))
      // not part of iterate's call sequence, so not in the coverage sum
      val (_, ev) = span("diff.eval_s") {
        diffs.foreach { case (_, d) => d.write.format("noop").mode("overwrite").save() }
      }
      put1("diff.shuffle_bytes", "bytes", ev.shuffleWrite.toDouble)
      put1("diff.spill_bytes", "bytes", ev.spill.toDouble)
      put1("diff.tasks", "count", ev.tasks.toDouble)

      val (_, cons) = span("render.console_s") {
        diffs.foreach { case (t, d) =>
          ReportSink.printConsole(RenderQueries.consoleLines(d, t.cols), _ => (), 200)
        }
      }
      spans += cons.wall
      val (counts, cnt) = span("diff.count_s") {
        diffs.map { case (t, d) => t.name -> d.select(col(Normalize.KeyCol)).distinct().count() }.toMap
      }
      spans += cnt.wall
      put1("diff.changed_keys", "count", counts.values.sum.toDouble)

      val p = work.resolve("replay_feed").toString
      val (_, fd) = span("feed.write_s") {
        diffs.map { case (t, d) => SnapshotDiff.feed(d, t.name, t.cols) }
          .reduce(_.unionByName(_)).write.mode("overwrite").parquet(p)
      }
      spans += fd.wall
      put1("feed.rows", "count", spark.read.parquet(p).count().toDouble)
      put1("feed.bytes", "bytes", dirBytes(Paths.get(p)).toDouble)

      val out = work.resolve("replay_report.xlsx")
      val changedTabs = diffs.filter { case (t, _) => counts(t.name) > 0 }
      val (written, rep) = span("render.report_s") {
        val os = new java.io.BufferedOutputStream(Files.newOutputStream(out))
        try ReportSink.writeXlsx(changedTabs.map { case (t, d) => t -> RenderQueries.xlsxCells(d, t.cols) }, os)
        finally os.close()
      }
      spans += rep.wall
      put1("render.report_rows", "count", written.toDouble)
      put1("render.report_bytes", "bytes", Files.size(out).toDouble)
      put1("diff.rows_emitted", "count", diffs.map(_._2.count()).sum.toDouble)

      val (_, sw) = span("app.swap_s") {
        deleteTree(pinRoot.resolve("before"))
        CacheScope.releaseAll()
      }
      spans += sw.wall
      deleteTree(pinRoot)
      tap.enable(false)
      spans.sum
    }
  }

  private object Loop {
    /** Column each churn UPDATE changes, and by how much (always != 0). */
    val updates: Map[String, (String, String)] = Map(
      "orders" -> ("O_TOTALPRICE", "7.25"), "lineitem" -> ("L_QUANTITY", "1"))
  }

  /** Data rows of the workbook: every `<row` minus the two header rows of
    * each table section. */
  private def xlsxRows(path: String): Long = {
    val zip = new java.util.zip.ZipFile(path)
    try {
      val xml = new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml"))
        .readAllBytes(), "UTF-8")
      val rows = "<row ".r.findAllMatchIn(xml).size
      val sections = ">TableName<".r.findAllMatchIn(xml).size
      (rows - 2 * sections).toLong
    } finally zip.close()
  }

  private def appMetrics(per: Seq[Tap.Delta]): Unit = {
    def m(name: String, unit: String, f: Tap.Delta => Double): Unit =
      put(name, unit, if (per.isEmpty) Seq(0.0) else per.map(f))
    m("app.sql_execs_per_iter", "count", _.sqlExecs.toDouble)
    m("app.jobs_per_iter", "count", _.jobs.toDouble)
    m("app.diff_evals_per_iter", "count", _.diffEvals.toDouble)
    m("app.shuffle_bytes_per_iter", "bytes", _.shuffleWrite.toDouble)
    m("app.task_busy_s", "s", _.busyS)
    m("app.core_util", "ratio", d => d.busyS / (d.wall * cpus.toDouble))
    m("app.task_wait_s", "s", _.waitS)
  }

  private def cacheMetrics(tap: Tap): Unit = {
    put1("cache.persistent_rdds_max", "count", tap.maxPersistent.toDouble)
    put1("cache.persistent_rdds_end", "count", spark.sparkContext.getPersistentRDDs.size.toDouble)
    put1("cache.storage_bytes", "bytes", tap.maxStorageBytes.toDouble)
  }

  private val modules: Seq[(String, Set[String])] = {
    import graft.operators._
    Seq("DiffQueries" -> DiffQueries.queries.keySet, "Relational" -> Relational.queries.keySet,
      "EventsQueries" -> EventsQueries.queries.keySet, "TextQueries" -> TextQueries.queries.keySet,
      "DedupQueries" -> DedupQueries.queries.keySet,
      "SimilarityQueries" -> SimilarityQueries.queries.keySet,
      "Multimodal" -> Multimodal.queries.keySet, "RenderQueries" -> RenderQueries.queries.keySet,
      "SketchQueries" -> SketchQueries.queries.keySet,
      "PipelineQueries" -> PipelineQueries.queries.keySet,
      "LinkageQueries" -> LinkageQueries.queries.keySet)
  }

  /** ops.<Module>.* from per-query deltas (all zero on the loops). */
  private def opsMetrics(perQuery: Map[String, Tap.Delta]): Unit = modules.foreach { case (m, names) =>
    val ds = perQuery.collect { case (q, d) if names(q) => d }.toSeq
    put1(s"ops.$m.time_s", "s", ds.map(_.wall).sum)
    put1(s"ops.$m.plan_s", "s", ds.map(_.planS).sum)
    put1(s"ops.$m.shuffle_bytes", "bytes", ds.map(_.shuffleWrite.toDouble).sum)
    put1(s"ops.$m.spill_bytes", "bytes", ds.map(_.spill.toDouble).sum)
  }

  /** Zeros for the loop layers on a workload that never calls them. */
  private def loopLayersIdle(): Unit = {
    Seq("sources.catalog_s", "sources.snapshot_s", "diff.eval_s", "diff.count_s", "render.console_s",
      "render.report_s", "feed.write_s", "app.swap_s").foreach(put1(_, "s", 0.0))
    Seq("sources.rows_read", "diff.tasks", "diff.rows_emitted", "diff.changed_keys",
      "render.report_rows", "feed.rows").foreach(put1(_, "count", 0.0))
    Seq("sources.bytes_read", "sources.pin_bytes", "diff.shuffle_bytes", "diff.spill_bytes",
      "render.report_bytes", "feed.bytes").foreach(put1(_, "bytes", 0.0))
    appMetrics(Nil)
  }

  // ------------------------------------------------------------ registry

  /** Passes over the configured registry queries: the cold first pass in
    * the configured order (so the cold pass is the same for every seed),
    * the warm ones in seed-shuffled order. Each pass starts from
    * `CacheScope.releaseSession()` + `clearCache()`, so every session
    * artifact a query reads is built inside the pass. */
  private def runRegistry(): Unit = {
    val lake = cfg.get("lake").asText()
    val queries = cfg.path("queries").elements().asScala.map(_.asText()).toSeq
    val warmOrder = new scala.util.Random(seed).shuffle(queries)
    val expected = cfg.path("expected")
    val building = expected.isMissingNode || expected.isNull
    val setup = new Timing
    val sess = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to setupReps) {
      setup.start()
      sess += newSession()
      setup.stop()
    }
    setup.put("setup_s", "setup_wall_s")
    val tap = if (traced) Some(new Tap(spark)) else None

    val passes = new Timing
    val heap = scala.collection.mutable.ArrayBuffer[Double]()
    val perQuery = scala.collection.mutable.LinkedHashMap[String, Tap.Delta]()
    val built = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    val untracedWarm, tracedWarm = scala.collection.mutable.ArrayBuffer[Double]()
    val w0 = now()
    var p = 0
    while (p < minRounds || (secs(w0) < seconds && p < maxRounds)) {
      p += 1
      // traced runs: the cold pass (per-query deltas) and every second
      // warm pass carry the listeners, the ones around it do not
      val withTap = tap.filter(_ => p == 1 || (p - 1) % 2 == 0)
      withTap.foreach(_.enable(true))
      CacheScope.releaseSession()
      spark.catalog.clearCache()
      passes.start()
      (if (p == 1) queries else warmOrder).foreach { q =>
        attempted += 1
        val before = withTap.map(_.snapshot())
        val qt = queryTimes.getOrElseUpdate(q, new Timing)
        qt.start()
        val rows = try Some(SparkEntry.queries(q)(spark, lake).collect()) catch {
          case e: Throwable => fail(s"pass $p $q threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
        }
        val dq = qt.stop()
        withTap.foreach { tp =>
          tp.sampleCache()
          if (p == 1) perQuery(q) = tp.delta(before.get, dq)
        }
        CacheScope.releaseAll()
        rows.foreach { rs =>
          val got = (rs.length.toLong, Canon.hash(rs))
          // when building the expected file, later passes must reproduce
          // the first one (a nondeterministic query cannot be checked)
          val want =
            if (building) built.get(q)
            else Option(expected.get(q)).map(e => (e.get("rows").asLong(), e.get("hash").asText()))
          if (building && p == 1) built(q) = got
          else if (!want.contains(got))
            fail(s"pass $p $q: (rows, hash)=$got want ${want.getOrElse("an expected entry")}")
        }
      }
      val dt = passes.stop()
      if (p > 1) (if (withTap.nonEmpty) tracedWarm else untracedWarm) += dt
      withTap.foreach(_.enable(false))
      rounds += (s"pass_$p" -> (dt, passes.cpu.last))
      // what survives a pass: its session artifacts are released first
      CacheScope.releaseSession()
      spark.catalog.clearCache()
      heap += heapMb()
    }
    passes.put("first_iter_cpu_s", "first_iter_s", _.take(1))
    passes.put("iter_cpu_s", "iter_s", steady)
    passes.put("pass_cpu_s", "pass_s", xs => Seq(xs.take(minRounds).sum))
    // each query's latency is its median over the warm passes; the
    // percentiles are taken over those per-query medians
    val perQueryWarm = new Timing
    queries.foreach { q =>
      perQueryWarm.wall += median(queryTimes(q).wall.drop(1).toSeq)
      perQueryWarm.cpu += median(queryTimes(q).cpu.drop(1).toSeq)
    }
    perQueryWarm.put("query_p50_cpu_s", "query_p50_s", xs => Seq(quantile(xs, 0.5)))
    perQueryWarm.put("query_p90_cpu_s", "query_p90_s", xs => Seq(quantile(xs, 0.9)))
    put("heap_mb", "MB", heap.toSeq)
    put1("window_s", "s", secs(w0))
    if (building) {
      writeExpected(built.toMap)
      dumpForOracle(lake, queries)
    }

    tap.foreach { tp =>
      put("session.create_s", "s", sess.toSeq)
      loopLayersIdle()
      cacheMetrics(tp)
      opsMetrics(perQuery.toMap)
      put1("trace.coverage", "ratio", perQuery.values.map(_.wall).sum / passes.wall.head)
      put1("trace.overhead", "ratio",
        if (tracedWarm.isEmpty || untracedWarm.isEmpty) 1.0
        else median(tracedWarm.toSeq) / median(untracedWarm.toSeq))
    }
  }

  private def writeExpected(built: Map[String, (Long, String)]): Unit = {
    val root = mapper.createObjectNode()
    built.toSeq.sortBy(_._1).foreach { case (q, (n, h)) =>
      val o = root.putObject(q)
      o.put("rows", n)
      o.put("hash", h)
    }
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(cfg.get("expected_out").asText()), root)
  }

  /** Engine results and oracle SQL of the registry queries, for the
    * DuckDB cross-check `run.py --build-expected` makes. */
  private def dumpForOracle(lake: String, queries: Seq[String]): Unit = {
    val dump = cfg.get("dump_dir").asText()
    val oracle = mapper.createObjectNode()
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, lake).coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
      CacheScope.releaseAll()
      SparkEntry.oracleSql.get(q).foreach(oracle.put(q, _))
    }
    mapper.writeValue(new java.io.File(s"$dump/oracle_sql.json"), oracle)
  }

  // ------------------------------------------------------------ artifact

  private def writeArtifact(): Unit = {
    val root = mapper.createObjectNode()
    root.put("workload", workload)
    root.put("seed", seed)
    root.put("trace", if (traced) 1 else 0)
    root.put("cpus", cpus)
    root.put("xmx_mb", Runtime.getRuntime.maxMemory() / 1048576)
    root.put("attempted", attempted)
    root.put("failed", failures.size)
    root.put("fixture_s", fixtureS)
    val f = root.putArray("failures")
    failures.foreach(f.add)
    val r = root.putObject("rounds")
    rounds.foreach { case (k, (wall, cpu)) => val o = r.putObject(k); o.put("wall_s", wall); o.put("cpu_s", cpu) }
    val qt = root.putObject("query_s")
    queryTimes.foreach { case (q, ts) =>
      val o = qt.putObject(q)
      val w = o.putArray("wall_s")
      ts.wall.foreach(x => w.add(x))
      val c = o.putArray("cpu_s")
      ts.cpu.foreach(x => c.add(x))
    }
    val m = root.putObject("metrics")
    metrics.foreach { case (k, v) =>
      val o = m.putObject(k)
      o.put("value", v.value)
      o.put("unit", v.unit)
      o.put("n", v.samples.size)
      val s = o.putArray("samples")
      v.samples.foreach(x => s.add(x))
    }
    val probeDir = cfg.path("probe_dir").asText(cfg.path("lake").asText(""))
    root.set[JsonNode]("preflight", mapper.readTree(Preflight.probeJson(probeDir)))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(cfg.get("out").asText()), root)
  }
}

/** Order-independent content hash of a query result: each row rendered
  * canonically (doubles to 6 significant digits, so a different float
  * summation order cannot flip it), hashed to 64 bits, summed. */
object Canon {
  import scala.util.hashing.MurmurHash3

  def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d == 0.0) "0" // folds -0.0
    else if (d.isNaN || d.isInfinite) d.toString
    else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  def hash(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = render(r)
      acc += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }
    f"$acc%016x"
  }
}
