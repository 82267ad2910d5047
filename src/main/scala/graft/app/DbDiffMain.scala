package graft.app

import graft.Tables
import graft.operators.Mutations
import org.apache.spark.sql.SparkSession

import java.time.LocalDateTime

/** Runnable dbdiff-equivalent CLI (`/root/reference/cmd/dbdiff/main.go`).
  *
  * {{{
  * spark-submit --class graft.app.DbDiffMain ... [-conf configuration.yaml]
  *   [-o out.html|out.xlsx] [-merkle 4096] [-open] [--demo]
  * }}}
  *
  * Flow, matching `main.go:23-98`: load config (S1) → catalog the tables →
  * BEFORE snapshot → wait for the operator's keypress → AFTER snapshot →
  * diff → console lines (S7) + styled HTML report (S8, timestamped filename
  * S9) → swap → repeat, until `q`/`exit`.
  *
  * `--demo` replaces the stdin wait with two scripted iterations against the
  * fixture lake: iteration 1 applies the harness mutation set (the "user
  * operations"), iteration 2 changes nothing — so the first report is full
  * and the second is empty, which exercises the swap end-to-end without a
  * terminal. This is also what [[DbDiffAppSpec]] pins.
  */
object DbDiffMain {
  /** The parsed command line. `open` is S10 behind a flag: the reference
    * always spawns the OS viewer on macOS/Windows (main.go:261-269); a
    * Spark deployment is usually headless, so spawning is opt-in. */
  final case class Args(conf: String = DbDiffConfig.DefaultConfigPath,
      outName: String = ReportSink.DefaultOutputName, merkle: Int = 0,
      demo: Boolean = false, open: Boolean = false)

  val Usage: String = "usage: DbDiffMain [-conf configuration.yaml] " +
    "[-o out.html|out.xlsx] [-merkle N] [-open] [--demo]"

  private val ValueFlags = Set("-conf", "-o", "-merkle")

  /** Parses the command line. An unknown argument, a flag without its
    * value or a non-positive-integer `-merkle` yields `Left` with a
    * one-line message that ends in [[Usage]]. */
  def parseArgs(args: Seq[String]): Either[String, Args] = {
    @annotation.tailrec
    def go(rest: List[String], acc: Args): Either[String, Args] = rest match {
      case Nil => Right(acc)
      case "--demo" :: tail => go(tail, acc.copy(demo = true))
      case "-open" :: tail => go(tail, acc.copy(open = true))
      case "-conf" :: v :: tail if !v.startsWith("-") => go(tail, acc.copy(conf = v))
      case "-o" :: v :: tail if !v.startsWith("-") => go(tail, acc.copy(outName = v))
      case "-merkle" :: v :: tail if !v.startsWith("-") => v.toIntOption.filter(_ > 0) match {
        case Some(n) => go(tail, acc.copy(merkle = n))
        case None => Left(s"-merkle needs a positive integer, got '$v'")
      }
      case flag :: _ if ValueFlags(flag) => Left(s"$flag needs a value")
      case other :: _ => Left(s"unknown argument '$other'")
    }
    go(args.toList, Args()).left.map(e => s"$e; $Usage")
  }

  def main(args: Array[String]): Unit = {
    val Args(conf, outName, merkle, demo, open) = parseArgs(args.toIndexedSeq) match {
      case Right(a) => a
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }

    val config =
      if (demo && !java.nio.file.Files.exists(java.nio.file.Paths.get(conf)))
        DbDiffConfig(DbConfig(dbType = "parquet", name = "/root/testdata/sf0.001"))
      else DbDiffConfig.load(conf)
    val jdbcDialects = Set("postgresql", "mysql", "mssql", "derby")
    require(config.db.dbType == "parquet" || jdbcDialects(config.db.dbType),
      s"db type must be 'parquet' or one of ${jdbcDialects.mkString("/")}, " +
        s"got '${config.db.dbType}'")

    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "graft-dbdiff")

    println("[INITIALIZING] Collecting Table Information ...")

    // live-database abstraction: JDBC configs catalog and scan the live
    // database (with checkpoint-pinned snapshots — a lazy frame over a
    // mutable table would see post-mutation state on both diff sides); in
    // parquet demo mode a mutable overlay plays the operator's
    // UPDATE/INSERT/DELETE session
    var mutated = false
    val (tables, source, pin) =
      if (jdbcDialects(config.db.dbType)) {
        val url = graft.sources.JdbcSnapshots.jdbcUrl(
          config.db.dbType, config.db.host, config.db.port, config.db.name)
        val props = Map("user" -> config.db.user, "password" -> config.db.password)
          .filter(_._2.nonEmpty)
        (DbDiffApp.jdbcTables(spark, config.db.dbType, url, config.db.schema, props),
          DbDiffApp.jdbcSource(spark, url, config.db.schema, props), true)
      } else {
        val base = DbDiffApp.parquetSource(spark, config.db.name)
        val overlay: graft.TableDef => org.apache.spark.sql.DataFrame =
          t => if (mutated) {
            base(t).createOrReplaceTempView(t.name)
            spark.sql(Mutations.afterSql(t.name))
          } else base(t)
        (Tables.diffable, overlay, false)
      }
    println(s"Table count: ${tables.length}")
    // -merkle N enables the bucket-checksum fast path for standing loops
    // over mostly-static lakes (see DbDiffApp.merkleBuckets)
    val app = new DbDiffApp(spark, tables, source, pinSnapshots = pin,
      merkleBuckets = merkle)

    println("[BEFORE] Collecting snapshot data... COMPLETE!")

    def runOnce(): Unit = {
      println("\n[AFTER ] Collecting snapshot data... COMPLETE!")
      val out = ReportSink.generateOutFilename(outName, LocalDateTime.now())
      val r = app.iterate(out)
      println(s"[ResultOutput] See ${r.reportPath.getOrElse("(no report)")} " +
        s"— ${r.totalChanged} changed keys across ${r.changedKeys.count(_._2 > 0)} tables")
      if (open) r.reportPath.foreach(ReportSink.openInViewer(_))
    }

    if (demo) {
      mutated = true; runOnce()   // iteration 1: the scripted "operations"
      runOnce()                   // iteration 2: nothing changed since swap
    } else {
      val stdin = scala.io.Source.stdin.getLines()
      print("OK, Let's do some operations, THEN HIT ANY KEY! OR type 'q' or 'exit' to quit this tool.  ")
      while (stdin.hasNext) {
        val line = stdin.next()
        if (line == "q" || line == "exit") { spark.stop(); return }
        runOnce()
        print("OK, Let's do some operations, THEN HIT ANY KEY! OR type 'q' or 'exit' to quit this tool.  ")
      }
    }
    spark.stop()
  }
}
