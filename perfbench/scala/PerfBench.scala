package graft.queries.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cdc.{Catalog, CdcConfig, CdcJob}
import graft.queries.CdcApply
import graft.sources.BinlogBinary

/** One benchmark run of one workload: generate (or reuse) the seeded
  * inputs, set up the session several times, then either time the
  * workload for `--seconds` (end-to-end metrics) or run it traced
  * (per-layer metrics), check every output, and write `record.json`
  * into `--out`. `perfbench/run.py` builds this, launches it and prints
  * the record.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --cores K --config FILE [--corrupt]
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: Path, out: Path, cores: Int, corrupt: Boolean, conf: Config)

  private def parseArgs(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toDouble, m("--trace") == "1",
      Paths.get(m("--data")), Paths.get(m("--out")), m("--cores").toInt,
      a.contains("--corrupt"), new Config(Paths.get(m("--config"))))
  }

  /** Workload shapes, the session and the tail rate, from
    * perfbench/config.json. Event counts are scaled so one run fits its
    * time budget; the file-count shape of each workload is fixed. */
  final class Config(path: Path) {
    private val c = Json.parse(new String(Files.readAllBytes(path), UTF_8))
    private def w(name: String) = c.get("workloads").get(name)
    /** Passes of a batch workload in one warm-up. */
    def warmPasses(name: String): Int = w(name).get("warm_passes").asInt
    private def shape(name: String) = Gen.Shape(w(name).get("files").asInt,
      w(name).get("dml_per_file").asInt, w(name).path("key_domain").asInt(0),
      w(name).path("zipf").asDouble(0))
    val session: Seq[(String, String)] =
      c.get("session").fields().asScala.map(e => e.getKey -> e.getValue.asText).toSeq
    val setups: Int = c.get("setups").asInt
    val replay: Gen.Shape = shape("replay_text")
    val flashback: Gen.Shape = shape("flashback_binary")
    val stream: Gen.Shape = shape("stream_apply")
    val streamBacklog: Int = w("stream_apply").get("backlog_files").asInt
    val streamWarmFiles: Int = w("stream_apply").get("warm_files").asInt
    /** Tail arrival rate, fixed once (about half the catch-up rate
      * measured on the commit that introduced the benchmark). */
    val tailFilesPerSecond: Double = w("stream_apply").get("tail_files_per_s").asDouble
  }

  // ---- record ---------------------------------------------------------

  final class Record {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def m(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def fail(what: String): Unit = { failed += 1; if (failures.size < 20) failures += what }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---- session --------------------------------------------------------

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
    a.conf.session.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- main -----------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val a = parseArgs(argv)
    Files.createDirectories(a.out)
    Files.createDirectories(a.data)
    val rec = new Record
    val w: Workload = a.workload match {
      case "replay_text" => new BatchCdc(a, binary = false)
      case "flashback_binary" => new BatchCdc(a, binary = true)
      case "stream_apply" => new StreamApply(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val g0 = now()
    w.generate()
    val genS = now() - g0
    rec.info("gen_s") = Json.num(genS)

    // set-up: session build + untimed warm pass, several times; the
    // first also carries JVM start (minus input generation)
    val setups = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val warmS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until a.conf.setups).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = session(a)
      val t1 = now()
      w.warm(spark, rec)
      val t2 = now()
      sessionS += t1 - t0; warmS += t2 - t1
      setups += (if (i == 0) System.currentTimeMillis() / 1e3 - jvmStart - genS else t2 - t0)
    }
    rec.info("setup_first_s") = Json.num(setups.head)

    if (a.trace) {
      val trace = new Trace(s"${a.workload}-s${a.seed}")
      spark.sparkContext.addSparkListener(trace.listener)
      w.traced(spark, trace, rec)
      rec.m("setup.session_s", median(sessionS.toSeq), "s")
      rec.m("setup.warm_s", median(warmS.toSeq), "s")
      trace.drain(spark.sparkContext)
      w.ledger(trace, rec)
      trace.write(a.out.resolve("spans.jsonl"))
    } else {
      w.timed(spark, rec)
      rec.m("setup_s", median(setups.toSeq), "s")
    }
    spark.stop()
    if (!a.trace) rec.m("peak_rss_mb", peakRssMb(), "MB")
    writeRecord(a, rec)
  }

  private def writeRecord(a: Args, rec: Record): Unit = {
    val session = Json.obj(
      (a.conf.session :+ ("spark.master" -> s"local[${a.cores}]"))
        .map { case (k, v) => k -> Json.str(v) }: _*)
    val body = Json.obj(
      "schema" -> "1",
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed),
      "trace" -> Json.num(if (a.trace) 1L else 0L),
      "run_utc" -> Json.str(java.time.Instant.now().toString),
      "cores" -> Json.num(a.cores.toLong),
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory() / (1L << 20)),
      "session" -> session,
      "attempted" -> Json.num(rec.attempted),
      "failed" -> Json.num(rec.failed),
      "failures" -> Json.arr(rec.failures.map(Json.str).toSeq: _*),
      "info" -> Json.obj(rec.info.toSeq: _*),
      "metrics" -> Json.obj(rec.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))
    Files.write(a.out.resolve("record.json"), body.getBytes(UTF_8))
  }

  // ---- workloads ------------------------------------------------------

  trait Workload {
    def generate(): Unit
    def warm(spark: SparkSession, rec: Record): Unit
    def timed(spark: SparkSession, rec: Record): Unit
    def traced(spark: SparkSession, trace: Trace, rec: Record): Unit
    def ledger(trace: Trace, rec: Record): Unit
  }

  /** Run `body` until `seconds` have passed (at least `min` times). */
  def loop(seconds: Double, min: Int)(body: Int => Unit): Unit = {
    val end = now() + seconds
    var i = 0
    while (i < min || now() < end) { body(i); i += 1 }
  }

  /** replay_text / flashback_binary: one pass = the whole input to a
    * complete script on disk, as CdcMain writes `-o`. */
  final class BatchCdc(a: Args, binary: Boolean) extends Workload {
    private val shape = if (binary) a.conf.flashback else a.conf.replay
    private val cfg = CdcConfig(flashback = binary)
    private var dir: Path = _
    private var tally: Gen.Tally = _
    private val name = if (binary) "flashback_binary" else "replay_text"
    private val script = a.out.resolve("script.sql")
    private var sinkRows = 0L

    def generate(): Unit = {
      val (d, t) = Gen.ensure(a.data, if (binary) "flashback" else "replay", a.seed, shape)
      dir = d.resolve(if (binary) "binary" else "text"); tally = t
    }

    private def input: String = dir.toString

    private def run(spark: SparkSession): DataFrame = {
      val catalog = Catalog.fixture(spark)
      if (binary) BinlogBinary.run(spark, input, catalog, cfg)
      else CdcJob.run(spark, input, catalog, cfg)
    }

    /** The CdcMain `-o` sink: stream the ordered script to disk. */
    private def sink(sql: DataFrame): Long = {
      val w = Files.newBufferedWriter(script)
      var n = 0L
      try sql.toLocalIterator().forEachRemaining { r =>
        w.write(r.getString(0)); w.write("\n"); n += 1
      } finally w.close()
      n
    }

    private def pass(spark: SparkSession): Long =
      try sink(run(spark).select("sql")) finally spark.catalog.clearCache()

    /** Between passes, outside any timing: every pass starts from a
      * compacted heap, so peak RSS tracks one pass's footprint rather
      * than when the collector last ran. */
    private def settle(): Unit = System.gc()

    def warm(spark: SparkSession, rec: Record): Unit =
      (0 until a.conf.warmPasses(name)).foreach { _ => pass(spark); check(rec); settle() }

    def timed(spark: SparkSession, rec: Record): Unit = {
      val times = mutable.ArrayBuffer.empty[Double]
      loop(a.seconds, 3) { i =>
        val t0 = now()
        val ok = try { pass(spark); true } catch { case e: Exception =>
          rec.attempted += 1; rec.fail(s"pass $i: $e"); false }
        val t = now() - t0
        if (ok) {
          if (a.corrupt && i == 0) corruptScript()
          if (check(rec)) times += t
        }
        settle()
      }
      val med = median(times.toSeq)
      rec.info("passes") = Json.num(times.size.toLong)
      rec.info("pass_times_s") = Json.arr(times.map(t => Json.num(t)).toSeq: _*)
      rec.info("events") = Json.num(tally.events)
      rec.info("files") = Json.num(tally.positions.size.toLong)
      rec.m("events_per_s", if (med > 0) tally.events / med else 0.0, "1/s")
      // the script lands whole at the end of a pass: a pass is the item
      rec.m("latency_p50_s", med, "s")
    }

    /** Drop one statement from the script: the self-test that a broken
      * output fails the run. */
    private def corruptScript(): Unit = {
      val lines = Files.readAllLines(script).asScala
      val i = lines.indexWhere(_.startsWith("UPDATE"))
      Files.write(script, (lines.patch(i, Nil, 1).mkString("\n") + "\n").getBytes(UTF_8))
    }

    /** Per-type statement counts equal the tally, and the start
      * positions follow the generated stream order (reversed for
      * flashback) across the whole script. Every checked pass counts
      * as one attempted operation. */
    private def check(rec: Record): Boolean = {
      rec.attempted += 1
      val ops = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      val pos = mutable.ArrayBuffer.empty[Long]
      val it = Files.lines(script).iterator()
      while (it.hasNext) {
        val l = it.next()
        if (l.startsWith("INSERT INTO")) ops("insert") += 1
        else if (l.startsWith("UPDATE")) ops("update") += 1
        else if (l.startsWith("DELETE FROM")) ops("delete") += 1
        else if (l.startsWith("# start-pos:"))
          pos += l.substring(12, l.indexOf(';')).trim.toLong
      }
      val want = if (binary)
        Map("insert" -> tally.ops("delete"), "update" -> tally.ops("update"),
          "delete" -> tally.ops("insert"))
      else tally.ops
      val order = tally.positions.sortBy(_._1).flatMap(_._2)
      val wantPos = if (binary) order.reverse else order
      val okOps = Seq("insert", "update", "delete").forall(k => ops(k) == want(k))
      val okPos = pos == wantPos
      if (!okOps) rec.fail(s"statement counts ${ops.toMap} != $want")
      if (!okPos) rec.fail(s"positions out of order (${pos.size} vs ${wantPos.size})")
      okOps && okPos
    }

    private val layers = Seq("read", "decode", "filter", "render", "order", "sink")
    private val prefixSpans = mutable.ArrayBuffer.empty[Map[String, Trace.Span]]
    private val untraced = mutable.ArrayBuffer.empty[Double]

    /** Cumulative prefixes into the noop sink; the last prefix is the
      * real pass. One untraced pass per round gives the overhead. */
    def traced(spark: SparkSession, trace: Trace, rec: Record): Unit = {
      val sc = spark.sparkContext
      val catalog = Catalog.fixture(spark)
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val read: () => DataFrame = () =>
        if (binary) spark.read.format("binaryFile").load(input).select(col("path"), col("content"))
        else spark.read.option("wholetext", "true").text(input)
          .select(org.apache.spark.sql.functions.input_file_name().as("file"), col("value"))
      val decode: () => DataFrame = () =>
        if (binary) BinlogBinary.parse(spark, input) else CdcJob.parse(spark, input)
      loop(a.seconds, 3) { i =>
        val spans = mutable.LinkedHashMap.empty[String, Trace.Span]
        trace.span(sc, s"pass-$i") {
          spans("read") = trace.span(sc, "read")(noop(read()))._2
          spans("decode") = trace.span(sc, "decode")(noop(decode()))._2
          spans("filter") = trace.span(sc, "filter")(
            noop(CdcJob.applyFilters(decode(), cfg)))._2
          spans("render") = trace.span(sc, "render")(noop(
            CdcJob.renderUnordered(CdcJob.applyFilters(decode(), cfg), catalog, cfg)))._2
          spans("order") = trace.span(sc, "order") {
            try noop(CdcJob.render(CdcJob.applyFilters(decode(), cfg), catalog, cfg).select("sql"))
            finally spark.catalog.clearCache()
          }._2
          val (rows, s) = trace.span(sc, "sink")(pass(spark))
          spans("sink") = s
          sinkRows = rows
        }
        check(rec)
        val t0 = now(); pass(spark); untraced += now() - t0
        prefixSpans += spans.toMap
        settle()
      }
    }

    def ledger(trace: Trace, rec: Record): Unit = {
      type Prefixes = Map[String, Trace.Span]
      def med(f: Prefixes => Double) = median(prefixSpans.map(f).toSeq)
      // a layer's self time and counts: its prefix minus the previous one
      def self(l: String)(p: Prefixes): Double = {
        val i = layers.indexOf(l)
        p(l).seconds - (if (i == 0) 0.0 else p(layers(i - 1)).seconds)
      }
      def selfCounts(l: String)(p: Prefixes): (Trace.Counts, Trace.Counts) = {
        val i = layers.indexOf(l)
        (trace.countsOf(p(l)),
          if (i == 0) new Trace.Counts else trace.countsOf(p(layers(i - 1))))
      }
      def taskS(l: String)(p: Prefixes): Double = {
        val (c, b) = selfCounts(l)(p); (c.runMs - b.runMs).max(0L) / 1e3
      }
      layers.foreach(l => rec.m(s"$l.s", med(self(l)), "s"))
      rec.m("decode.task_s", med(taskS("decode")), "s")
      rec.m("decode.tasks", med(p => trace.countsOf(p("decode")).tasks.toDouble), "count")
      rec.m("render.task_s", med(taskS("render")), "s")
      rec.m("order.shuffle_write_bytes", med(p => selfCounts("order")(p)._1.shuffleWrite.toDouble), "bytes")
      rec.m("order.spill_bytes", med(p => selfCounts("order")(p)._1.spill.toDouble), "bytes")
      rec.m("sink.rows", sinkRows.toDouble, "count")
      rec.m("decode.busy_cores", busy(rec, "decode"), "cores")
      rec.m("render.busy_cores", busy(rec, "render"), "cores")
      val full = med(p => p("sink").seconds)
      rec.m("trace.overhead_s", full - median(untraced.toSeq), "s")
      rec.info("ledger_sum_s") = Json.num(layers.map(l => med(self(l))).sum)
      rec.info("untraced_pass_s") = Json.num(median(untraced.toSeq))
    }
  }

  private def busy(rec: Record, layer: String): Double = {
    val s = rec.metrics(s"$layer.s")._1
    if (s > 0) rec.metrics(s"$layer.task_s")._1 / s else 0.0
  }

  /** stream_apply: CdcStream micro-batches (one file each) applied by
    * CdcApply's fenced merge into a fresh in-memory Derby target. A
    * backlog is drained first (catch-up), then an open-loop scheduler
    * drops the remaining files at a fixed rate (tail). */
  final class StreamApply(a: Args) extends Workload {
    private var dir: Path = _
    private var tally: Gen.Tally = _
    private var runNo = 0
    private val triggers = mutable.ArrayBuffer.empty[Map[String, Double]]

    def generate(): Unit = {
      val (d, t) = Gen.ensure(a.data, "stream", a.seed, a.conf.stream)
      dir = d.resolve("text"); tally = t
    }

    private def files: Seq[Path] =
      Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

    private final case class Outcome(commits: Map[Long, Double], batchS: Seq[Double],
        drainS: Double, dueAt: Seq[Double], late: Seq[Double], backlogMax: Int,
        fenceRows: Long, url: String)

    /** Stage `fs` into a fresh watched directory; the first `backlog`
      * files are present at start, the rest arrive at `rate`/s. */
    private def stream(spark: SparkSession, fs: Seq[Path], backlog: Int, rate: Double,
        trace: Option[Trace]): Outcome = {
      runNo += 1
      val root = a.out.resolve(s"stream-$runNo")
      val watch = Files.createDirectories(root.resolve("watch"))
      val staged = Files.createDirectories(root.resolve("staged"))
      // distinct, ordered mtimes: the file source picks oldest first
      val base = System.currentTimeMillis() - 3600L * 1000L
      fs.zipWithIndex.foreach { case (f, i) =>
        val to = (if (i < backlog) watch else staged).resolve(f.getFileName)
        Files.copy(f, to)
        to.toFile.setLastModified(base + i * 1000L)
      }
      val url = CdcApply.newTargetUrl()
      val commits = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
      val batchS = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val sc = spark.sparkContext
      val t0 = now()
      val q = graft.streaming.CdcStream.events(spark, watch.toString, maxFilesPerTrigger = 1)
        .writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val b0 = now()
          trace match {
            case Some(t) => t.span(sc, s"batch-$epoch") {
              t.span(sc, "apply")(CdcApply.applyBatch(url, "perfbench", epoch, batch)) }
            case None => CdcApply.applyBatch(url, "perfbench", epoch, batch)
          }
          val b1 = now()
          batchS.add(b1 - b0)
          commits.put(epoch, b1)
          ()
        }
        .start()
      try {
        val total = fs.size
        def committed = commits.size
        def await(n: Int, deadline: Double): Unit =
          while (committed < n && now() < deadline && q.exception.isEmpty) Thread.sleep(2)
        await(backlog, now() + 120)
        val drain = now() - t0
        // tail: an open loop, due times fixed from its start
        val tailStart = now()
        val dueAt = mutable.ArrayBuffer.empty[Double]
        val late = mutable.ArrayBuffer.empty[Double]
        var backlogMax = 0
        fs.indices.drop(backlog).foreach { i =>
          val due = tailStart + (i - backlog) / rate
          val wait = due - now()
          if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
          Files.move(staged.resolve(fs(i).getFileName), watch.resolve(fs(i).getFileName),
            StandardCopyOption.ATOMIC_MOVE)
          late += now() - due
          dueAt += due
          backlogMax = backlogMax.max(i + 1 - committed)
        }
        await(total, now() + 120)
        q.exception.foreach(e => throw e)
        if (committed < total) throw new IllegalStateException(
          s"stream committed $committed of $total batches")
        val fence = fenceRows(url)
        Outcome(commits.asScala.toMap, batchS.asScala.toSeq, drain, dueAt.toSeq,
          late.toSeq, backlogMax, fence, url)
      } finally q.stop()
    }

    private def fenceRows(url: String): Long = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM applied_epochs")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }

    /** The live target equals the generator's last-writer-wins model. */
    private def checkState(spark: SparkSession, url: String, rec: Record): Unit = {
      val got = CdcApply.readState(spark, url).collect().map { r =>
        r.getLong(2).toInt -> (Option(r.getString(3)).getOrElse("NULL"),
          Option(r.getString(4)).getOrElse("NULL"))
      }.toMap
      val want = tally.live.map { case (k, (n, s)) => k -> (s"'$n'", s) }
      if (got != want) {
        val diff = (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))
        rec.fail(s"target state differs: ${got.size} vs ${want.size} rows; " +
          diff.map(k => s"id $k: ${got.get(k)} vs ${want.get(k)}").getOrElse(""))
      }
    }

    def warm(spark: SparkSession, rec: Record): Unit = {
      val o = stream(spark, files.take(a.conf.streamWarmFiles), a.conf.streamWarmFiles, 1.0, None)
      CdcApply.dropTarget(o.url)
    }

    private def listen(spark: SparkSession): StreamingQueryListener = {
      val l = new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) triggers.synchronized {
            triggers += e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
          }
      }
      spark.streams.addListener(l)
      l
    }

    private def full(spark: SparkSession, rec: Record, trace: Option[Trace]): Outcome = {
      val o = stream(spark, files, a.conf.streamBacklog, a.conf.tailFilesPerSecond, trace)
      val batches = files.size
      rec.attempted += batches
      checkState(spark, o.url, rec)
      if (o.fenceRows != batches) rec.fail(s"applied_epochs ${o.fenceRows} != batches $batches")
      CdcApply.dropTarget(o.url)
      rec.info("tail_files") = Json.num((batches - a.conf.streamBacklog).toLong)
      rec.info("backlog_files") = Json.num(a.conf.streamBacklog.toLong)
      rec.info("events") = Json.num(tally.events)
      rec.info("tail_rate_per_s") = Json.num(a.conf.tailFilesPerSecond)
      o
    }

    private def freshness(o: Outcome): Seq[Double] =
      o.dueAt.zipWithIndex.map { case (due, i) => o.commits((a.conf.streamBacklog + i).toLong) - due }

    def timed(spark: SparkSession, rec: Record): Unit = {
      if (a.corrupt) tally = tally.copy(live = tally.live.drop(1))
      val o = full(spark, rec, None)
      val backlogEvents = tally.positions.sortBy(_._1).take(a.conf.streamBacklog).map(_._2.size).sum
      val f = freshness(o)
      rec.m("events_per_s", backlogEvents / o.drainS, "1/s")
      rec.m("latency_p50_s", quantile(f, 0.5), "s")
      rec.info("catch_up_s") = Json.num(o.drainS)
      rec.info("batch_s") = Json.arr(o.batchS.map(t => Json.num(math.round(t * 1000) / 1000.0)): _*)
      rec.info("freshness_s") = Json.arr(f.map(t => Json.num(math.round(t * 1000) / 1000.0)): _*)
      rec.info("backlog_files_max") = Json.num(o.backlogMax.toLong)
      rec.info("gen_late_max_s") = Json.num(o.late.max)
    }

    def traced(spark: SparkSession, trace: Trace, rec: Record): Unit = {
      val l = listen(spark)
      val o = try {
        val o = full(spark, rec, Some(trace))
        // progress events arrive asynchronously: wait for the last ones
        val deadline = now() + 5
        while (triggers.synchronized(triggers.size) < files.size && now() < deadline)
          Thread.sleep(10)
        o
      } finally spark.streams.removeListener(l)
      rec.m("apply.batch_p50_s", quantile(o.batchS, 0.5), "s")
      rec.m("apply.batch_p90_s", quantile(o.batchS, 0.9), "s")
      rec.m("apply.commit_ratio", o.fenceRows.toDouble / files.size, "ratio")
      rec.m("backlog.files_max", o.backlogMax, "count")
      rec.m("gen.late_max_s", o.late.max, "s")
    }

    def ledger(trace: Trace, rec: Record): Unit = {
      val ts = triggers.synchronized(triggers.toList)
      rec.m("trigger.count", ts.size, "count")
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach(k => rec.m(s"trigger.${k}_ms", median(ts.flatMap(_.get(k))), "ms"))
    }
  }
}
