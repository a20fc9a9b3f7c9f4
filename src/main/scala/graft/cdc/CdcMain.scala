package graft.cdc

import org.apache.spark.sql.SparkSession

/** CLI entry mirroring the reference's surface (O1,
  * /root/reference/main.py:17-39) so a log2sql user can switch
  * invocation styles directly — including the reference's connection
  * flags `-h -u -p -P` (main.py:46-53; argparse-style `--flag=value`,
  * attached shorts like `-uroot`, and nargs='*' operands all parse),
  * which build the live-catalog JDBC URL. Input is `--binlog
  * <path-or-dir>` / `--start-file` (decoded `mysqlbinlog -vv` text,
  * same contract as the reference which shells out for the decode,
  * main.py:90); the catalog may instead come from `--catalog
  * columns.csv,statistics.csv` (an information_schema snapshot) or an
  * explicit `--catalog-jdbc <url>` (the same two information_schema
  * projections the reference queries per event, read once over JDBC —
  * /root/reference/log2sql.py:29,40-42). Omitted → built-in fixture.
  *
  *   --binlog PATH          binlog text file or rotated-file directory
  *   --format text|binary|auto  which decoder reads it: `mysqlbinlog
  *                          -vv` text (the reference's contract), raw
  *                          `.binlog` bytes (this engine's built-in
  *                          decoder — no mysqlbinlog step), or
  *                          magic-byte auto-detection (default)
  *   --catalog COLS,STATS   information_schema snapshot CSVs
  *   --catalog-jdbc URL     live catalog over JDBC (MySQL dialect);
  *                          credentials via --catalog-user/--catalog-password
  *                          or embedded in the URL
  *   -d, --database DB      database filter (O17)
  *   -t, --tables T1,T2     table filter (O18)
  *   --start-position N     (O3)        --stop-position N
  *   --start-datetime "yyyy-MM-dd HH:mm:ss"  (O4)  --stop-datetime ...
  *   --sql-type insert,update,delete    (O16)
  *   -B, --flashback        inverse SQL, newest first (Q6 fixed);
  *                          mutually exclusive with -K (main.py:28)
  *   -K, --no-primary-key   strip PK cols from INSERTs (Q5 implemented)
  *   --back-interval F      pause F seconds per 1000 flashback
  *                          statements at the sink (the throttle the
  *                          reference declares but never reads,
  *                          main.py:83-84 — real here, parity-safe)
  *   --only-dml             parsed-and-ignored (reference quirk: a
  *                          store_true flag DEFAULTING to true — it can
  *                          never be disabled, main.py:74-75; the real
  *                          switch here is --include-ddl)
  *   --include-ddl          real DDL switch (Q4 fixed)
  *   --bug-compatible       byte-parity with the reference
  *   -o, --output PATH      write SQL there instead of stdout
  *   --help                 print this flag surface and exit
  *
  * `--start-file` is accepted as an alias of `--binlog` (the
  * reference's name for the input, main.py:56).
  */
object CdcMain {

  /** Raised by `--help`; main prints the usage block and exits 1 like
    * the reference (main.py:21-23). */
  final class HelpRequested extends RuntimeException

  /** The flag surface, printed for --help / empty args. */
  val Usage: String =
    """usage: CdcMain --binlog PATH [options]
      |  --binlog PATH / --start-file PATH   binlog text file or rotated-file dir
      |  --catalog COLS,STATS                information_schema snapshot CSVs
      |  --catalog-jdbc URL                  live catalog over JDBC
      |  --catalog-user U --catalog-password P
      |  -h HOST -P PORT -u USER -p [PASS]   reference connection flags; build
      |                                      the live-catalog JDBC URL
      |  -d, --database DB                   database filter
      |  -t, --tables T1,T2                  table filter
      |  --start-position N  --stop-position N
      |  --start-datetime "yyyy-MM-dd HH:mm:ss"  --stop-datetime ...
      |  --sql-type insert,update,delete
      |  -B, --flashback                     inverse SQL, newest first
      |  -K, --no-primary-key                strip PK cols from INSERTs
      |  --format text|binary|auto           input decoder: mysqlbinlog -vv text,
      |                                      raw .binlog bytes, or magic-sniffed
      |  --include-gtids SET  --exclude-gtids SET
      |                                      GTID-set filters (uuid:i[-j],...)
      |  --evolve-schema                     version the catalog by log position:
      |                                      ALTER ADD/DROP COLUMN in the log
      |                                      re-maps later row events' ordinals
      |  --only-dml                          accepted (always-on in the reference)
      |  --back-interval F                   pause F sec per 1000 flashback stmts
      |  --include-ddl                       emit DDL statements too
      |  --bug-compatible                    byte-parity with the reference
      |  -o, --output PATH                   write SQL to a file
      |  --output-parquet DIR                materialize the filtered change
      |                                      EVENTS as parquet (the CDC event
      |                                      lake); SQL still renders to
      |                                      -o/stdout only if -o was given
      |  --output-scd2 DIR                   materialize the SCD type-2
      |                                      dimension history (per-key version
      |                                      rows with [valid_from, valid_to)
      |                                      stamps; keyless tables excluded)
      |                                      as (db, table)-partitioned parquet
      |  --help                              this message
      |""".stripMargin

  final case class CatalogSource(
      csvs: Option[(String, String)] = None,
      jdbcUrl: Option[String] = None,
      jdbcUser: Option[String] = None,
      jdbcPassword: Option[String] = None)

  def parseArgs(rawArgs: Array[String]): (String, CatalogSource,
      CdcConfig, Option[String], Option[String], Option[String]) = {
    // argparse-compatible token forms so the reference README's exact
    // invocations parse unchanged (main.py:41-53): `--flag=value`
    // splits, and attached short options (`-uroot`, `-h127.0.0.1`)
    // split for the value-taking short flags.
    val AttachedShort = "^-([hupPdto])(.+)$".r
    val args: Array[String] = rawArgs.flatMap {
      case s if s.startsWith("--") && s.contains('=') =>
        val Array(f, v) = s.split("=", 2); Seq(f, v)
      case AttachedShort(f, v) => Seq(s"-$f", v)
      case s => Seq(s)
    }
    var binlog: String = null
    var catalog = CatalogSource()
    var out: Option[String] = None
    var outParquet: Option[String] = None
    var outScd2: Option[String] = None
    var cfg = CdcConfig()
    // reference connection flags (-h -u -p -P, main.py:46-53): kept to
    // build the --catalog-jdbc URL so log2sql invocations are drop-in
    var host: Option[String] = None
    var port: Option[String] = None
    var user: Option[String] = None
    var password: Option[String] = None
    var i = 0
    def operand(flag: String): String = {
      if (i + 1 >= args.length)
        throw new IllegalArgumentException(s"$flag requires a value")
      i += 2
      args(i - 1)
    }
    // argparse nargs='*': zero or more operands up to the next flag
    def operands(): Seq[String] = {
      i += 1
      val start = i
      while (i < args.length && !args(i).startsWith("-")) i += 1
      args.slice(start, i).toSeq
    }
    while (i < args.length) {
      args(i) match {
        case f @ ("--binlog" | "--start-file") => binlog = operand(f)
        case f @ "--catalog" =>
          val parts = operand(f).split(",", 2)
          if (parts.length != 2)
            throw new IllegalArgumentException(
              "--catalog needs columns.csv,statistics.csv")
          catalog = catalog.copy(csvs = Some((parts(0), parts(1))))
        case f @ "--catalog-jdbc" =>
          catalog = catalog.copy(jdbcUrl = Some(operand(f)))
        case f @ "--catalog-user" =>
          catalog = catalog.copy(jdbcUser = Some(operand(f)))
        case f @ "--catalog-password" =>
          catalog = catalog.copy(jdbcPassword = Some(operand(f)))
        case f @ ("-h" | "--host") => host = Some(operand(f))
        case f @ ("-u" | "--user") => user = Some(operand(f))
        case "-p" | "--password" =>
          // nargs='*' like the reference, which then takes only the
          // FIRST element (main.py:38 `args.password[0]`): bare -p =
          // empty password, extra operands are ignored
          password = Some(operands().headOption.getOrElse(""))
        case f @ ("-P" | "--port") => port = Some(operand(f))
        case f @ ("-d" | "--database") => cfg = cfg.copy(database = operand(f))
        case "-t" | "--tables" =>
          // nargs='*' (README passes several table operands) plus the
          // engine's own comma form
          cfg = cfg.copy(tables = operands().flatMap(_.split(",")).toSeq)
        case f @ "--start-position" =>
          cfg = cfg.copy(startPos = Some(operand(f).toLong))
        case f @ "--stop-position" =>
          cfg = cfg.copy(stopPos = Some(operand(f).toLong))
        case f @ "--start-datetime" =>
          cfg = cfg.copy(startDatetime = Some(operand(f)))
        case f @ "--stop-datetime" =>
          cfg = cfg.copy(stopDatetime = Some(operand(f)))
        case "--sql-type" =>
          cfg = cfg.copy(sqlTypes = operands().flatMap(_.split(",")).toSeq)
        case "-B" | "--flashback" => cfg = cfg.copy(flashback = true); i += 1
        case "-K" | "--no-primary-key" => cfg = cfg.copy(noPk = true); i += 1
        case f @ "--back-interval" =>
          // the reference declares a sleep between rollback chunks but
          // never reads it (dead code, main.py:83-84, SURVEY quirk
          // Q5); here the flag is REAL — the output sink pauses this
          // many seconds between 1000-statement flashback chunks
          // (bytes unchanged, so reference parity is unaffected)
          cfg = cfg.copy(backInterval = operand(f).toDouble)
        case f @ "--format" =>
          val v = operand(f)
          if (!Set("text", "binary", "auto").contains(v))
            throw new IllegalArgumentException(
              s"--format must be text, binary or auto (got $v)")
          cfg = cfg.copy(format = v)
        case f @ "--include-gtids" =>
          val v = operand(f)
          GtidSet.parse(v): Unit // validate eagerly: fail at the CLI
          cfg = cfg.copy(includeGtids = Some(v))
        case f @ "--exclude-gtids" =>
          val v = operand(f)
          GtidSet.parse(v): Unit
          cfg = cfg.copy(excludeGtids = Some(v))
        case "--only-dml" => i += 1 // reference quirk: always-true no-op
        case "--include-ddl" => cfg = cfg.copy(includeDdl = true); i += 1
        case "--evolve-schema" => cfg = cfg.copy(evolveSchema = true); i += 1
        case "--bug-compatible" => cfg = cfg.copy(bugCompatible = true); i += 1
        case f @ ("-o" | "--output") => out = Some(operand(f))
        case f @ "--output-parquet" => outParquet = Some(operand(f))
        case f @ "--output-scd2" => outScd2 = Some(operand(f))
        case "--help" => throw new HelpRequested
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    if (binlog == null)
      throw new IllegalArgumentException("--binlog is required")
    // the reference rejects the combination too (main.py:28-29)
    if (cfg.flashback && cfg.noPk)
      throw new IllegalArgumentException(
        "Only one of flashback or no_pk can be True")
    // connection flags → live-catalog JDBC URL (reference defaults
    // host=127.0.0.1 user=root password='' port=3306) unless an
    // explicit catalog source was given
    if (catalog.csvs.isEmpty && catalog.jdbcUrl.isEmpty &&
        (host.orElse(port).orElse(user).orElse(password)).nonEmpty)
      catalog = CatalogSource(
        jdbcUrl = Some(s"jdbc:mysql://${host.getOrElse("127.0.0.1")}:" +
          s"${port.getOrElse("3306")}/information_schema"),
        jdbcUser = Some(user.getOrElse("root")),
        jdbcPassword = Some(password.getOrElse("")))
    (binlog, catalog, cfg, out, outParquet, outScd2)
  }

  /** `--output-parquet` sink body: the filtered change EVENTS as
    * parquet (the lakehouse batch form of c11's streaming sink),
    * PARTITIONED by (db, table) via derived `p_db`/`p_table` columns
    * so downstream per-table consumers (state materialization, c9's
    * shape) prune directories instead of scanning the whole lake.
    * Deriving keeps the real db/table columns inside the files —
    * empty values (DDL rows) would otherwise round-trip as NULL
    * through hive partition encoding. */
  private[graft] def writeEventLake(events: org.apache.spark.sql.DataFrame,
      dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    events.withColumn("p_db", col("db")).withColumn("p_table", col("table"))
      .write.mode("overwrite").partitionBy("p_db", "p_table").parquet(dir)
  }

  def main(args: Array[String]): Unit = {
    // like the reference: empty args or --help → usage, exit 1
    // (main.py:18-23)
    val (binlog, catalogSrc, cfg, out, outParquet, outScd2) =
      try {
        if (args.isEmpty) throw new HelpRequested
        parseArgs(args)
      } catch {
        case _: HelpRequested => System.err.println(Usage); sys.exit(1)
      }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("log2sqlspark-cdc")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val catalog = (catalogSrc.csvs, catalogSrc.jdbcUrl) match {
      case (Some((cols, stats)), _) =>
        Catalog.resolve(
          spark.read.option("header", "true").option("inferSchema", "true").csv(cols),
          spark.read.option("header", "true").option("inferSchema", "true").csv(stats))
      case (None, Some(url)) =>
        Catalog.fromJdbc(spark, url, catalogSrc.jdbcUser, catalogSrc.jdbcPassword)
      case (None, None) => Catalog.fixture(spark)
    }
    // the batch pipeline up to rendering (CdcJob.events), shared by
    // every sink so the binlog decodes once; cached when several are live
    val (events, evolved) = CdcJob.events(spark, binlog, catalog, cfg)
    val sinks = Seq(outParquet, outScd2, out).count(_.nonEmpty)
    val shared = if (sinks > 1) events.cache() else events
    // --output-parquet: the event-lake sink — filtered change EVENTS
    // (not rendered SQL) land as (db, table)-partitioned parquet, the
    // lakehouse batch form of c11's streaming sink; rendering is
    // skipped entirely unless -o also asked for SQL
    outParquet.foreach(writeEventLake(shared, _))
    // --output-scd2: the dimension-history sink — per-key version
    // rows (CdcJob.scd2; keyless tables excluded), partitioned like
    // the event lake so per-table consumers prune directories
    outScd2.foreach { dir =>
      import org.apache.spark.sql.functions.col
      CdcJob.scd2(shared, catalog, evolved)
        .withColumn("p_db", col("db")).withColumn("p_table", col("table"))
        .write.mode("overwrite").partitionBy("p_db", "p_table").parquet(dir)
    }
    if ((outParquet.nonEmpty || outScd2.nonEmpty) && out.isEmpty) {
      spark.stop(); return
    }
    val sql = CdcJob.render(shared, catalog, cfg, evolved = evolved)
      .select("sql")
    // --back-interval: pace flashback emission in 1000-statement
    // chunks (the upstream binlog2sql throttle the reference's dead
    // code intended) — applied at the SINK, where order is already
    // global, so the distributed plan is untouched
    val throttled = cfg.flashback && cfg.backInterval > 0
    var emitted = 0L
    def pace(): Unit = {
      emitted += 1
      if (throttled && emitted % 1000 == 0)
        Thread.sleep((cfg.backInterval * 1000).toLong)
    }
    out match {
      case Some(path) =>
        // stream row-by-row — collecting a day of binlog SQL into one
        // driver-side string would OOM where the stdout path doesn't
        val w = java.nio.file.Files.newBufferedWriter(
          java.nio.file.Paths.get(path))
        try sql.toLocalIterator().forEachRemaining { r =>
          w.write(r.getString(0)); w.write("\n"); pace()
        } finally w.close()
      case None =>
        // run-header comment like the reference's `-- {args}` (O31)
        println(s"-- ${args.mkString(" ")}")
        sql.toLocalIterator().forEachRemaining { r =>
          println(r.getString(0)); pace()
        }
    }
    spark.stop()
  }
}
