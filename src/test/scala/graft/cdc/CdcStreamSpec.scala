package graft.cdc

import java.nio.file.{Files, Paths}
import graft.streaming.CdcStream
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming CDC over a rotating binlog directory: files arriving
  * after the stream starts are picked up as micro-batches and render
  * byte-identically to the batch path. */
class CdcStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("rotated files arrive as micro-batches; SQL matches batch render") {
    val dir = Files.createTempDirectory("graft_cdcstream")
    def writeFile(name: String): Unit =
      Files.write(dir.resolve(name),
        BinlogFixture.representative.getBytes("UTF-8"))

    writeFile("binlog.000000.txt")
    val q = CdcStream.changes(spark, dir.toString, Catalog.fixture(spark))
      .writeStream.format("memory").queryName("cdcs")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("cdcs")
        .orderBy("file", "seq").select("sql")
        .collect().map(_.getString(0)).toSeq
      val batch = CdcJob.run(spark,
        dir.resolve("binlog.000000.txt").toString, Catalog.fixture(spark))
        .select("sql").collect().map(_.getString(0)).toSeq
      assert(afterFirst == batch,
        "first micro-batch must render byte-identically to the batch path")

      // rotation: a new file appears while the stream runs
      writeFile("binlog.000001.txt")
      q.processAllAvailable()
      val afterSecond = spark.table("cdcs").count()
      assert(afterSecond == 2L * batch.size,
        "the rotated file must arrive incrementally with the same rows")
      // per-file rendering identical across files (same content)
      val byFile = spark.table("cdcs").orderBy("file", "seq")
        .collect().groupBy(_.getString(0)).view
        .mapValues(_.map(_.getAs[String]("sql")).toSeq).toMap
      assert(byFile.size == 2 && byFile.values.forall(_ == batch))
    } finally {
      q.stop()
      spark.catalog.dropTempView("cdcs")
    }
  }

  test("c11 sink: epoch-keyed parquet sink is exactly-once across stop/restart") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_c11_src")
    val sink = Files.createTempDirectory("graft_c11_sink").toString
    val ckpt = Files.createTempDirectory("graft_c11_ckpt").toString
    def writeFile(name: String): Unit =
      Files.write(dir.resolve(name),
        BinlogFixture.representative.getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = graft.streaming.CdcStream.events(spark, dir.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          CdcMain.writeEventLake(batch, s"$sink/epoch=$epoch")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def epochDirs(): Set[String] =
      Option(new java.io.File(sink).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSet
    writeFile("binlog.000000.txt")
    runOnce()
    val after1 = epochDirs()
    assert(after1.nonEmpty)
    val count1 = spark.read.parquet(sink).count()
    // restart with NO new data: checkpoint says everything is
    // committed — no new epochs, sink bytes untouched
    runOnce()
    assert(epochDirs() == after1 && spark.read.parquet(sink).count() == count1)
    // restart with a rotated file: it lands in NEW epoch dirs only
    writeFile("binlog.000001.txt")
    runOnce()
    assert(after1.subsetOf(epochDirs()) && epochDirs() != after1)
    // the sink accumulates to exactly the batch parse of the full dir
    val sunk = spark.read.parquet(sink)
      .groupBy("db", "table", "op").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    val batch = CdcJob.parse(spark, dir.toString)
      .groupBy("db", "table", "op").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(sunk == batch)
    // the lake is (p_db, p_table)-partitioned: a per-table consumer's
    // filter becomes directory pruning (PartitionFilters), not a scan
    // + post-filter — the property that keeps a 100 TB event lake
    // queryable per table. AQE would hide the scan node from collect.
    val pruned = spark.read.parquet(sink)
      .filter(org.apache.spark.sql.functions.col("p_table") === "t_pk")
    assert(pruned.count() > 0)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "p_table")),
      s"expected a p_table partition filter, got ${scan.partitionFilters}")
    assert(!scan.dataFilters.exists(_.references.exists(_.name == "p_table")))
  }

  test("c14: lake-fed state stream prunes to its table's partition and equals the batch fold") {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_c14src")
    Files.writeString(src.resolve("binlog.000001.txt"),
      BinlogFixture.stressStream(200))
    val lake = Files.createTempDirectory("graft_c14lake").toString + "/lake"
    CdcMain.writeEventLake(CdcJob.parse(spark, src.toString), lake)
    // batch twin of the stream's read: the (p_db, p_table) filter is
    // DIRECTORY pruning (PartitionFilters), never a data filter
    val twin = spark.read.parquet(lake)
      .filter(col("p_db") === "logdb" && col("p_table") === "audit")
    assert(twin.count() > 0)
    val scan = twin.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    for (c <- Seq("p_db", "p_table")) {
      assert(scan.partitionFilters.exists(_.references.exists(_.name == c)),
        s"expected a $c partition filter, got ${scan.partitionFilters}")
      assert(!scan.dataFilters.exists(_.references.exists(_.name == c)))
    }
    // the streamed incremental fold over the pruned lake equals the
    // one-shot batch fold of the same partition
    val schema = spark.read.parquet(lake).schema
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val cp = Files.createTempDirectory("graft_c14cp").toString
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(lake)
      .filter(col("p_db") === "logdb" && col("p_table") === "audit")
      .drop("p_db", "p_table")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        state = Some(graft.queries.CdcQueries
          .mergeState(state, graft.queries.CdcQueries.flattenImages(b))
          .localCheckpoint())
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("db", "table", "id").collect().map(_.toSeq).toSeq
    val streamed = graft.queries.CdcQueries.stateView(state.get)
    val batchFold = graft.queries.CdcQueries.stateView(
      graft.queries.CdcQueries.mergeState(None,
        graft.queries.CdcQueries.flattenImages(
          twin.drop("p_db", "p_table"))))
    assert(rows(streamed).nonEmpty && rows(streamed) == rows(batchFold))
    // only audit rows ever entered the state
    assert(streamed.select("db", "table").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("logdb", "audit")))
  }

  test("GTID-interval filters apply on the streaming path (shared applyFilters)") {
    import graft.sources.BinlogBinaryFixture._
    val sid = "a0a1a2a3-a4a5-a6a7-a8a9-aaabacadaeaf"
    val evs: Seq[Ev] = (1 to 8).flatMap { g =>
      Seq(Gtid(g.toLong), Begin,
        Insert(g * 10, s"row_$g", Some(g + 0.5)), Xid(200L + g))
    }
    val dir = Files.createTempDirectory("gtidstream")
    Files.write(dir.resolve("binlog.000001"),
      graft.sources.BinlogBinaryFixture.render(evs)._1)
    val cfg = CdcConfig(includeGtids = Some(s"$sid:2-4:7"))
    val q = CdcStream.changes(spark, dir.toString,
      Catalog.fixture(spark), cfg, binary = true)
      .writeStream.format("memory").queryName("gtidstream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("gtidstream").orderBy("file", "seq")
        .select("sql").collect().map(_.getString(0)).toSeq
      // exactly the 4 in-set transactions, matching the batch path
      assert(streamed.size == 4)
      val batch = graft.sources.BinlogBinary
        .run(spark, dir.toString, Catalog.fixture(spark), cfg)
        .select("sql").collect().map(_.getString(0)).toSeq
      assert(streamed == batch)
      assert(streamed.forall(_.contains("INSERT INTO")))
      for (g <- Seq(2, 3, 4, 7))
        assert(streamed.exists(_.contains(s"'row_$g'")), s"gno $g missing")
    } finally q.stop()
  }

  test("binary binlog stream renders identically to the binary batch path") {
    val dir = Files.createTempDirectory("graft_cdcstream_bin")
    import graft.sources.{BinlogBinary, BinlogBinaryFixture}
    val events = Seq(
      BinlogBinaryFixture.Insert(1, "a", Some(1.5)),
      BinlogBinaryFixture.Update((1, "a", Some(1.5)), (1, "b", Some(2.5))),
      BinlogBinaryFixture.Delete(1, "b", Some(2.5)))
    val (bytes, _) = BinlogBinaryFixture.render(events)
    Files.write(dir.resolve("binlog.000000"), bytes)
    val q = CdcStream.changes(spark, dir.toString, Catalog.fixture(spark),
      binary = true)
      .writeStream.format("memory").queryName("cdcsb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cdcsb").orderBy("file", "seq")
        .select("sql").collect().map(_.getString(0)).toSeq
      val batch = BinlogBinary.run(spark, dir.resolve("binlog.000000").toString,
        Catalog.fixture(spark), CdcConfig())
        .select("sql").collect().map(_.getString(0)).toSeq
      assert(streamed.nonEmpty && streamed == batch)
      // rotation with binary files too
      Files.write(dir.resolve("binlog.000001"), bytes)
      q.processAllAvailable()
      assert(spark.table("cdcsb").count() == 2L * batch.size)
    } finally {
      q.stop()
      spark.catalog.dropTempView("cdcsb")
    }
  }

  test("binary stream renders header datetimes in the session time zone, like batch") {
    import graft.sources.{BinlogBinary, BinlogBinaryFixture}
    val dir = Files.createTempDirectory("graft_cdcstream_tz")
    Files.write(dir.resolve("binlog.000000"), BinlogBinaryFixture.render(Seq(
      BinlogBinaryFixture.Insert(1, "a", Some(1.5)),
      BinlogBinaryFixture.Delete(1, "a", Some(1.5))))._1)
    def batchSql(): Seq[String] =
      BinlogBinary.run(spark, dir.toString, Catalog.fixture(spark), CdcConfig())
        .select("sql").collect().map(_.getString(0)).toSeq
    val key = "spark.sql.session.timeZone"
    val (streamed, batch) =
      try {
        spark.conf.set(key, "Asia/Kolkata")
        val q = CdcStream.changes(spark, dir.toString, Catalog.fixture(spark),
          binary = true)
          .writeStream.format("memory").queryName("cdcs_tz")
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          (spark.table("cdcs_tz").orderBy("file", "seq").select("sql")
            .collect().map(_.getString(0)).toSeq, batchSql())
        } finally {
          q.stop()
          spark.catalog.dropTempView("cdcs_tz")
        }
      } finally spark.conf.set(key, "UTC")
    assert(streamed.nonEmpty && streamed == batch)
    // the zone is visible: the UTC rendering carries other datetimes
    assert(batchSql() != batch)
  }

  test("checkpoint restart: a killed query resumes exactly-once, no replay, no loss") {
    val dir = Files.createTempDirectory("graft_cdc_restart")
    val checkpoint = Files.createTempDirectory("graft_cdc_restart_cp")
    val seen = collection.mutable.ListBuffer.empty[String]
    def startQuery() = CdcStream.changes(spark, dir.toString, Catalog.fixture(spark))
      .writeStream
      .option("checkpointLocation", checkpoint.toString)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized { seen ++= batch.select("sql").collect().map(_.getString(0)) }
        ()
      }
      .start()
    // phase 1: one file processed, then the query DIES (stop = crash
    // from the source's perspective: the checkpoint is all that
    // survives)
    Files.write(dir.resolve("binlog.000000.txt"),
      BinlogFixture.dmlStream(30).getBytes("UTF-8"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterPhase1 = seen.size
    assert(afterPhase1 > 0)
    // phase 2: a new file lands while nothing is running; an identical
    // query restarted on the SAME checkpoint must emit ONLY the new
    // file — no replay of file 1 (duplicates), no gap (loss)
    Files.write(dir.resolve("binlog.000001.txt"),
      BinlogFixture.dmlStream(12).getBytes("UTF-8"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val batchAll = CdcJob.run(spark, dir.toString, Catalog.fixture(spark))
      .select("sql").collect().map(_.getString(0)).toSeq
    assert(seen.size > afterPhase1, "restart must pick up the new file")
    assert(seen.sorted == batchAll.sorted,
      s"streamed-across-restart ${seen.size} rows != batch ${batchAll.size}")
  }

  test("c16 envelopes render identically on the stream") {
    val dir = Files.createTempDirectory("graft_envstream")
    Files.write(dir.resolve("binlog.000000.txt"),
      BinlogFixture.stressStream(200).getBytes("UTF-8"))
    val streamed = graft.queries.CdcQueries.envelopes(
      graft.queries.CdcQueries.flattenImages(
        graft.streaming.CdcStream.events(spark, dir.toString)))
    val q = streamed.writeStream.format("memory").queryName("envs")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("envs").select("seq", "envelope").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.queries.CdcQueries.envelopes(
      graft.queries.CdcQueries.flattenImages(CdcJob.parse(spark,
        dir.resolve("binlog.000000.txt").toString)))
      .select("seq", "envelope").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == batch && got.nonEmpty)
    // spot-check the envelope grammar on one insert
    val ins = got.map(_._2).find(_.startsWith("""{"op":"c"""")).get
    assert(ins.contains(""""source":{"file":""") &&
      ins.contains(""""before":{"id":null}""") &&
      ins.contains(""""after":{"id":"""))
    spark.catalog.dropTempView("envs")
  }

  test("flashback is rejected on streams (needs the stream's end)") {
    val e = intercept[IllegalArgumentException](
      CdcStream.changes(spark, "/tmp/nowhere", Catalog.fixture(spark),
        CdcConfig(flashback = true)))
    assert(e.getMessage.contains("batch-only"))
  }

  test("foldDdls is arrival-order-commutative (c19 state contract)") {
    val base = Map(("appdb", "evolve") -> IndexedSeq("id", "a"))
    val ddls = Seq(
      ("f1", 5L, "appdb", "alter table evolve add column x int"),
      ("f0", 3L, "appdb", "alter table evolve add column w int"),
      ("f2", 1L, "appdb", "alter table evolve drop column v"),
      ("f1", 9L, "appdb", "alter table evolve add column y int after x"),
      ("f0", 7L, "appdb", "alter table evolve rename column w to v"))
    val fwd = SchemaEvolve.foldDdls(base, ddls)
    assert(SchemaEvolve.foldDdls(base, ddls.reverse) == fwd)
    assert(SchemaEvolve.foldDdls(base,
      scala.util.Random.shuffle(ddls.toVector)) == fwd)
    // and the fold is positionally right: last version reflects all
    // five changes in (file, seq) order, not arrival order
    val tv = fwd(("appdb", "evolve"))
    assert(tv.last._3 == IndexedSeq("id", "a", "x", "y"))
    assert(SchemaEvolve.colsAt(tv, "f1", 6L).map(_._2) ==
      Seq("id", "a", "v", "x"))
  }

  test("c19: streaming schema evolution equals batch timelines over the full log") {
    // fixture invariant first: the parts concatenate back to the
    // single-file stream, so batch-over-directory and c15's single
    // file share ONE schema history
    val parts = BinlogFixture.evolveStreamParts(210, 3)
    assert(parts.mkString == BinlogFixture.evolveStream(210),
      "splitting must preserve the byte stream")
    val dir = Files.createTempDirectory("graft_c19spec")
    parts.zipWithIndex.foreach { case (c, i) =>
      val p = dir.resolve(f"binlog.$i%06d.txt")
      Files.writeString(p, c)
      // rotation contract: ascending mtimes (file N closes before N+1)
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - (parts.size - i) * 60000L))
    }
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val cat = Catalog.resolve(
      Seq(
        ("appdb", "evolve", "id", 1, "PRI"),
        ("appdb", "evolve", "a", 2, ""),
        ("testdb", "t_pk", "id", 1, "PRI"),
        ("testdb", "t_pk", "name", 2, ""),
        ("testdb", "t_pk", "score", 3, ""))
        .toDF("table_schema", "table_name", "column_name",
          "ordinal_position", "column_key"),
      Seq(
        ("appdb", "evolve", "PRIMARY", 0, "id"),
        ("testdb", "t_pk", "PRIMARY", 0, "id"))
        .toDF("table_schema", "table_name", "index_name",
          "non_unique", "column_name"))
    val cfg = CdcConfig(evolveSchema = true)
    val batch = CdcJob.run(spark, dir.toString, cat, cfg)
      .select("file", "seq", "sql").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(batch.nonEmpty)
    // a mid-stream ALTER must be visible: later files' inserts carry
    // MORE columns than the base schema in the batch answer
    assert(batch.last._3.contains("extra_"))
    var acc = Vector.empty[(String, Long, String)]
    val cp = Files.createTempDirectory("graft_c19spec_cp").toString
    val q = graft.streaming.CdcStream.startEvolved(
      spark, dir.toString, cat, cfg, cp, maxFilesPerTrigger = 1) {
      (b: DataFrame, _: Long) =>
        acc ++= b.select("file", "seq", "sql").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    }
    try q.processAllAvailable() finally q.stop()
    assert(acc.sortBy(t => (t._1, t._2)) == batch,
      "stream-evolved render must equal the batch timelines render")
  }
}
