package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch CDC pipeline (SURVEY.md §3.4): binlog text files →
  * per-file FSM parse → filters → broadcast catalog join → SQL render
  * → ordered output.
  *
  * Scale design: one binlog file = one parse task (binlogs rotate at a
  * fixed size, so files ARE the parallelism unit at 100 TB; order
  * within a file is the semantic invariant, order across files comes
  * from the final sort on (file, start_pos)). `wholetext` gives the
  * FSM its whole-file line order; the catalog is a tiny dimension and
  * is broadcast, so the only shuffle in the whole job is the final
  * ordering — which unordered sinks can drop.
  */
object CdcJob {

  /** Post-FSM projection shared by the batch and streaming paths —
    * one place defines the change-event schema (columns: file, seq,
    * start_pos, stop_pos, pos_comment, ts, db, table, op, image
    * arrays, ddl), so the two cannot drift. */
  private[graft] def projectEvents(parsed: DataFrame): DataFrame = parsed
    .withColumn("pos_comment",
      concat(lit("# start-pos:"), col("startPosRaw"),
        lit("; stop-pos:"), col("stopPosRaw"),
        lit("; datetime: "), col("dtRaw"),
        // ROWS_QUERY passthrough: when the server logged the original
        // statement (binlog_rows_query_log_events=ON), surface it as
        // one more comment line on the event — rendered SQL then
        // carries the provenance the binlog2sql lineage prints, and
        // output bytes are unchanged whenever the event is absent
        when(col("query").isNotNull,
          concat(lit("\n# rows_query: "),
            // keep every line of a multi-line statement commented —
            // the output must stay an executable SQL script
            regexp_replace(col("query"), "\n", "\n# "))).otherwise(lit(""))))
    // header datetime "260812  5:00:00" (yyMMdd H:mm:ss) -> TIMESTAMP
    .withColumn("ts", to_timestamp(
      regexp_replace(trim(col("dtRaw")), "\\s+", " "), "yyMMdd H:mm:ss"))
    .select(col("file"), col("seq"), col("startPos").as("start_pos"),
      col("stopPos").as("stop_pos"), col("pos_comment"), col("ts"),
      col("db"), col("table"), col("op"),
      col("beforeOrds"), col("beforeVals"),
      col("afterOrds"), col("afterVals"), col("ddl"), col("gtid"),
      col("query"))

  /** Parse binlog text files into a change-event DataFrame. */
  def parse(spark: SparkSession, path: String,
      includeDdl: Boolean = false): DataFrame =
    read(spark, Seq(path), binary = false, includeDdl)

  /** The batch reader for both input formats: one task per file —
    * `wholetext` text keyed by `input_file_name()`, or `binaryFile`
    * bytes keyed by `path` (the `file` strings order the output and
    * key the schema timelines, so each format keeps its source). */
  private[graft] def read(spark: SparkSession, paths: Seq[String],
      binary: Boolean, includeDdl: Boolean,
      ddlOnly: Boolean = false): DataFrame = {
    import spark.implicits._
    if (paths.isEmpty) return projectEvents(spark.emptyDataset[RawChange].toDF())
    val files =
      if (binary)
        spark.read.format("binaryFile").option("pathGlobFilter", "*")
          .load(paths: _*).select(col("path"), col("content"))
      else
        spark.read.option("wholetext", "true").text(paths: _*)
          .select(input_file_name().as("file"), col("value"))
    decode(files, binary, includeDdl, ddlOnly)
  }

  /** The decode stage the batch and stream readers share: a (file,
    * content) frame — text or bytes per `binary` — through BinlogFsm or
    * BinlogBinary, then `projectEvents`. Binary header datetimes render
    * in the session time zone (BinlogBinary.parseBytes's `zone`).
    * `skipBefore`: a file whose PREVIOUS_GTIDS header proves the whole
    * set executed before it (S ⊆ P) is skipped at header cost — the
    * stream's stand-in for GtidPrune, which cannot pre-list a growing
    * directory. */
  private[graft] def decode(files: DataFrame, binary: Boolean,
      includeDdl: Boolean, ddlOnly: Boolean = false,
      skipBefore: Option[GtidSet.Set] = None): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    def stale(header: => Option[GtidSet.Set]): Boolean =
      skipBefore.exists(s => header.exists(p => GtidSet.isSubset(s, p)))
    val changes =
      if (binary) {
        val zoneId = spark.conf.get("spark.sql.session.timeZone",
          java.time.ZoneId.systemDefault().getId)
        files.as[(String, Array[Byte])].flatMap { case (file, bytes) =>
          if (stale(graft.sources.BinlogBinary.headerPrevGtids(bytes))) Nil
          else graft.sources.BinlogBinary.parseBytes(file, bytes, includeDdl,
            java.time.ZoneId.of(zoneId), ddlOnly)
        }
      } else
        files.as[(String, String)].flatMap { case (file, text) =>
          if (stale(BinlogFsm.headerPrevGtids(text.linesIterator))) Iterator.empty
          else BinlogFsm.parse(file, text.linesIterator, includeDdl, ddlOnly)
        }
    projectEvents(changes.toDF())
  }

  /** O16–O18 + O3 filters — plain Catalyst predicates, pushed before
    * the join automatically (undoing reference quirk Q8). DDL events
    * bypass the db/table/type filters like the reference's marker-0
    * branch (log2sql.py:13-14, no filters applied to DDL), but ARE
    * subject to position/datetime bounds — the reference delegates
    * bound-filtering to mysqlbinlog, which bounds every event
    * including Query/DDL (main.py:92-101). */
  def applyFilters(events: DataFrame, cfg: CdcConfig): DataFrame = {
    val isDdl = col("op") === "ddl"
    var dml = col("op").isin(cfg.sqlTypes: _*)
    if (cfg.database.nonEmpty) dml = dml && col("db") === cfg.database
    if (cfg.tables.nonEmpty) dml = dml && col("table").isin(cfg.tables: _*)
    // mysqlbinlog bound semantics: start bounds are inclusive, stop
    // bounds exclusive, both tested against the event START
    // (position / header timestamp); applies to DML and DDL alike.
    // An event whose header datetime fails to parse (null ts) PASSES
    // the datetime bounds — mysqlbinlog still emits events it cannot
    // date, and silently dropping them would lose writes.
    var bounds = lit(true)
    cfg.startPos.foreach(p => bounds = bounds && col("start_pos") >= p)
    cfg.stopPos.foreach(p => bounds = bounds && col("start_pos") < p)
    cfg.startDatetime.foreach(t => bounds = bounds &&
      (col("ts").isNull || col("ts") >= to_timestamp(lit(t))))
    cfg.stopDatetime.foreach(t => bounds = bounds &&
      (col("ts").isNull || col("ts") < to_timestamp(lit(t))))
    // GTID-set filters: a pure Catalyst disjunction over the parsed
    // intervals (uuid equality + gno range) — codegen'd, pushes to the
    // scan like every other predicate here; interval counts are tiny
    // (human-written CLI sets). Include drops GTID-less events (they
    // cannot be proven in-set); exclude keeps them.
    def inSet(spec: String): org.apache.spark.sql.Column = {
      val uuid = substring_index(col("gtid"), ":", 1)
      val gno = substring_index(col("gtid"), ":", -1).cast("long")
      val m = GtidSet.parse(spec).toSeq.sortBy(_._1).flatMap {
        case (u, ivs) => ivs.map { case (lo, hi) =>
          uuid === u && gno >= lo && gno <= hi }
      }.reduceOption(_ || _).getOrElse(lit(false)) // empty spec matches nothing
      coalesce(m, lit(false)) // empty/odd gtid strings never match
    }
    cfg.includeGtids.foreach(s => bounds = bounds && inSet(s))
    cfg.excludeGtids.foreach(s => bounds = bounds && !inSet(s))
    events.filter((isDdl || dml) && bounds)
  }

  /** Broadcast-join the resolved catalog and render SQL text.
    * Output: file, start_pos, op, sql (pos-comment + statement for DML,
    * bare statement for DDL), ordered (file, start_pos) — descending
    * start_pos in flashback (Q6 fix; `bugCompatible` keeps the
    * reference's unreversed order). Rendering runs as a typed map (a
    * scalar string build — the one genuinely imperative step, like the
    * reference's generate_sql_pattern, log2sql.py:135-185). */
  def render(events: DataFrame, catalog: DataFrame, cfg: CdcConfig,
      cacheBeforeSort: Boolean = true,
      evolved: Option[SchemaEvolve.Timelines] = None): DataFrame = {
    val rendered0 = renderUnordered(events, catalog, cfg, evolved)
    // the global sort's range-partitioner samples its input, then scans
    // it again — batch callers cache so parse+render run once (JVM exit
    // reclaims it)
    val sortInput = if (cacheBeforeSort) rendered0.cache() else rendered0

    // stream order = per-file emission sequence (DDL has no binlog
    // position; start_pos alone would missort it). Flashback reverses
    // the WHOLE stream — newest file first, newest event within it
    // first — so replaying the script top-to-bottom undoes changes in
    // exact reverse order across a rotated-binlog directory.
    if (cfg.flashback && !cfg.bugCompatible)
      sortInput.orderBy(col("file").desc, col("seq").desc)
    else sortInput.orderBy(col("file"), col("seq"))
  }

  /** Catalog join + SQL text render WITHOUT the final global sort —
    * the kernel shared by the batch path (which appends the sort
    * above) and the streaming path (where a global sort is undefined
    * on an unbounded input; rows carry (file, seq) so sinks can
    * order). Also the right entry for unordered batch sinks. */
  def renderUnordered(events: DataFrame, catalog: DataFrame,
      cfg: CdcConfig,
      evolved: Option[SchemaEvolve.Timelines] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    val joined = events.join(
      broadcast(catalog.withColumnRenamed("db", "cat_db")
        .withColumnRenamed("table", "cat_table")),
      events("db") === col("cat_db") && events("table") === col("cat_table"),
      "left")
      .select(col("file"), col("seq"), col("start_pos"), col("pos_comment"),
        col("db"), col("table"), col("op"),
        col("beforeOrds"), col("beforeVals"),
        col("afterOrds"), col("afterVals"),
        col("ddl"), col("cols"), col("key_cols"))

    val flashback = cfg.flashback
    val bugCompat = cfg.bugCompatible
    val noPk = cfg.noPk
    // timelines are a bounded dim (SchemaEvolve contract): shipping
    // them inside the render closure is the broadcast-join analogue
    // for a lookup the join itself can't express (position-ranged)
    val timelines = evolved.getOrElse(Map.empty)
    val rendered0 = joined.as[RenderIn].flatMap { r =>
      val cols = timelines.get((r.db, r.table)) match {
        case Some(tv) => SchemaEvolve.colsAt(tv, r.file, r.seq)
        case None => r.cols.getOrElse(Nil).map(c => (c.ord, c.name))
      }
      val stmt = SqlRender.render(r.op, r.db, r.table,
        r.before, r.after, r.ddl.orNull,
        cols, r.key_cols.getOrElse(Nil), flashback, bugCompat, noPk)
      if (stmt == null) None
      else Some(RenderOut(r.file, r.seq, r.start_pos, r.op,
        if (r.op == "ddl") stmt else r.pos_comment + "\n" + stmt))
    }.toDF()
    rendered0
  }

  /** The DDL rule of both modes: the parse sees DDL whenever a schema
    * timeline folds over it, the output keeps DDL only under
    * `--include-ddl`. Filters apply before the drop; the timeline
    * itself folds over the PRE-filter stream (user filters narrow the
    * output, never the schema history events resolve against). */
  private[graft] def outputEvents(parsed: DataFrame, cfg: CdcConfig,
      timeline: Boolean): DataFrame = {
    val filtered = applyFilters(parsed, cfg)
    if (timeline && !cfg.includeDdl) filtered.filter(col("op") =!= "ddl")
    else filtered
  }

  /** The batch pipeline up to rendering: format → GTID prune → parse →
    * schema timelines → filters → DDL drop. `cfg.format` picks the
    * decoder (`auto` sniffs the magic, BinlogBinary.isBinlog). Returns
    * the output events and, under `--evolve-schema`, the timelines to
    * render them against. */
  def events(spark: SparkSession, path: String, catalog: DataFrame,
      cfg: CdcConfig): (DataFrame, Option[SchemaEvolve.Timelines]) = {
    val binary = cfg.format match {
      case "binary" => true
      case "text" => false
      case _ => graft.sources.BinlogBinary.isBinlog(spark, path)
    }
    val parseDdl = cfg.includeDdl || cfg.evolveSchema
    // GTID seek, not scan (GtidPrune): with --include-gtids, files whose
    // PREVIOUS_GTIDS headers prove them disjoint from the requested set
    // are dropped from the read list before any decode work.
    val (parsed, prunedOut) = cfg.includeGtids match {
      case Some(spec) =>
        val retained = GtidPrune.prune(spark, path, spec)
        val all = GtidPrune.listFiles(spark, path).map(_.toString)
        (read(spark, retained, binary, parseDdl), all.filterNot(retained.toSet))
      case None => (read(spark, Seq(path), binary, parseDdl), Nil)
    }
    // With GTID pruning active the timeline must ALSO see ALTERs in
    // the pruned (earlier, GTID-disjoint) files — the base catalog
    // contract is "schema at log start", not "at the pruned read-list
    // start" — so the fold additionally parses the pruned-out files
    // in the decoders' ddlOnly fast path (row images — the dominant
    // volume — are skipped, so pruning's decode saving is kept;
    // retained files are never read twice).
    val evolved =
      if (cfg.evolveSchema) {
        val timelineEvents =
          if (prunedOut.isEmpty) parsed
          else parsed.unionByName(
            read(spark, prunedOut, binary, includeDdl = true, ddlOnly = true)
              .filter(col("op") === "ddl"))
        Some(SchemaEvolve.timelines(timelineEvents, catalog))
      } else None
    (outputEvents(parsed, cfg, cfg.evolveSchema), evolved)
  }

  /** Full pipeline: `events` → render. */
  def run(spark: SparkSession, path: String, catalog: DataFrame,
      cfg: CdcConfig = CdcConfig()): DataFrame = {
    val (evs, evolved) = events(spark, path, catalog, cfg)
    render(evs, catalog, cfg, evolved = evolved)
  }

  /** SCD type-2 dimension history at GENERIC image grain — the
    * `--output-scd2` sink body (the Kimball table a warehouse builds
    * from a change feed; c20/c21 pin the semantics on the fixture
    * shape with a DuckDB oracle). Identity = the catalog-resolved key
    * ordinals (pk → first unique index, the reference's rule);
    * KEYLESS tables are excluded — SCD2 is undefined without identity.
    * Version rows are the upserts, each valid until its key's next
    * action stamp; payload = the full after image (ordinal/value
    * arrays, the engine's lossless carry). Assumes full row images
    * (binlog_row_image=FULL — what both decoders emit). Scale shape:
    * catalog broadcast; ONE hash exchange on (db, table, key) + one
    * sort feeding both windows — per-key history is key-parallel at
    * any log size. */
  def scd2(events: DataFrame, catalog: DataFrame,
      evolved: Option[SchemaEvolve.Timelines] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Key ordinals per event. Static: one broadcast-joined ordinal
    // list per table. Evolved (--evolve-schema): an ALTER that shifts
    // or renames columns mid-log moves the KEY's position too — the
    // same defect class c15 fixes for rendering would otherwise
    // corrupt every version chain after the ALTER (rows key on
    // whatever column now sits at the old ordinal). Resolution
    // matches SqlRender's semantics exactly: the key NAMES from the
    // catalog are looked up in the position-resolved column list at
    // each event's (file, seq); an event where no key name resolves
    // (e.g. before a key-column rename) is keyless THERE and excluded
    // — same name-match rule the rendered WHERE clauses apply.
    val ev = evolved match {
      case None =>
        val cat = broadcast(catalog
          .withColumn("key_ords", expr(
            "transform(filter(cols, c -> array_contains(key_cols, c.name))," +
              " c -> c.ord)"))
          .filter(size(col("key_ords")) > 0)
          .select(col("db"), col("table"), col("key_ords")))
        events.join(cat, Seq("db", "table"))
      case Some(tl) =>
        // both lookups are bounded dims (the SchemaEvolve contract):
        // shipping them inside the resolver closure is the broadcast
        // analogue for a position-ranged lookup a join can't express
        val catRows = catalog
          .select(col("db"), col("table"), col("cols"), col("key_cols"))
          .collect()
        val keyByTable: Map[(String, String), Set[String]] = catRows.map { r =>
          (r.getString(0), r.getString(1)) ->
            r.getSeq[String](3).toSet
        }.toMap
        val colsByTable: Map[(String, String), Seq[(Int, String)]] = catRows.map { r =>
          (r.getString(0), r.getString(1)) ->
            r.getSeq[org.apache.spark.sql.Row](2)
              .map(c => (c.getInt(0), c.getString(1)))
        }.toMap
        val resolve = udf((db: String, table: String, file: String, seq: Long) => {
          val kc = keyByTable.getOrElse((db, table), Set.empty)
          if (kc.isEmpty) null
          else {
            val cols = tl.get((db, table))
              .map(tv => SchemaEvolve.colsAt(tv, file, seq))
              .getOrElse(colsByTable.getOrElse((db, table), Nil))
            val ords = cols.collect { case (o, n) if kc(n) => o }
            if (ords.isEmpty) null else ords
          }
        })
        events
          .withColumn("key_ords",
            resolve(col("db"), col("table"), col("file"), col("seq")))
          .filter(col("key_ords").isNotNull)
    }
    def keyOf(ords: String, vals: String) = expr(
      s"transform(key_ords, o -> element_at(map_from_arrays($ords, $vals), o))")
    val acts = ev.select(col("db"), col("table"), col("file"), col("seq"),
      col("op"), explode(array(
        struct(keyOf("beforeOrds", "beforeVals").as("key"),
          lit(null).cast("array<int>").as("img_ords"),
          lit(null).cast("array<string>").as("img_vals"),
          lit(0).as("keep"), lit(0).as("rnk")),
        struct(keyOf("afterOrds", "afterVals").as("key"),
          col("afterOrds").as("img_ords"), col("afterVals").as("img_vals"),
          lit(1).as("keep"), lit(1).as("rnk")))).as("a"))
      .select(col("db"), col("table"), col("file"), col("seq"), col("op"),
        col("a.*"))
      .filter(
        (col("rnk") === 0 && col("op").isin("update", "delete")) ||
          (col("rnk") === 1 && col("op").isin("insert", "update")))
    val wo = Window.partitionBy("db", "table", "key")
      .orderBy("file", "seq", "rnk")
    acts
      .withColumn("to_file", lead(col("file"), 1).over(wo))
      .withColumn("to_seq", lead(col("seq"), 1).over(wo))
      .filter(col("keep") === 1)
      .withColumn("ver", row_number().over(wo))
      .select(col("db"), col("table"), col("key"), col("ver"),
        col("img_ords"), col("img_vals"),
        col("file").as("from_file"), col("seq").as("from_seq"),
        col("to_file"), col("to_seq"),
        col("to_file").isNull.as("is_current"))
  }
}
