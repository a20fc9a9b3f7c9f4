package graft.queries.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.BinlogBinaryFixture
import graft.sources.BinlogBinaryFixture._

/** Seeded input generator. Builds `BinlogBinaryFixture.Ev` lists from
  * the seed, writes both encodings with the public
  * `BinlogBinaryFixture.render`, and records the expected tally next to
  * the files. Inputs are cached by (seed, shape): a directory holding a
  * `tally.json` is complete and is reused as is.
  *
  * `render` rebuilds its whole output buffer once per event, so its
  * cost grows with the square of the file size; shapes keep files
  * small enough that generation stays a few seconds.
  */
object Gen {

  final case class Shape(files: Int, dmlPerFile: Int, keyDomain: Int,
      zipf: Double) {
    def tag: String = s"f${files}_d${dmlPerFile}_k${keyDomain}_z$zipf"
  }

  /** What the generated files must produce. `ops` counts DML events by
    * type; `positions` lists every DML event's start position per file
    * in stream order; `live` is the final row per key under
    * last-writer-wins (id -> (name, score literal)). */
  final case class Tally(ops: Map[String, Long],
      positions: Seq[(String, Seq[Long])],
      live: Map[Int, (String, String)]) {
    def events: Long = ops.values.sum
  }

  private final class Live {
    val ids = mutable.ArrayBuffer.empty[Int]
    val slot = mutable.HashMap.empty[Int, Int]
    val row = mutable.HashMap.empty[Int, (Int, String, Option[Double])]
    def put(r: (Int, String, Option[Double])): Unit = {
      if (!slot.contains(r._1)) { slot(r._1) = ids.length; ids += r._1 }
      row(r._1) = r
    }
    def remove(id: Int): Unit = {
      val i = slot.remove(id).get
      val last = ids.remove(ids.length - 1)
      if (last != id) { ids(i) = last; slot(last) = i }
      row.remove(id)
    }
  }

  private def name(rnd: java.util.Random): String = {
    val n = 4 + rnd.nextInt(9)
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb += ('a' + rnd.nextInt(26)).toChar)
    sb.result()
  }

  private def score(rnd: java.util.Random): Option[Double] =
    if (rnd.nextInt(10) == 0) None
    else Some(math.round(rnd.nextDouble() * 1e6) / 100.0)

  /** The literal the text twin prints for a score, which is what the
    * decoders carry and the apply target stores. */
  def scoreLit(s: Option[Double]): String =
    s.map(d => if (d == d.toLong.toDouble) d.toLong.toString else d.toString)
      .getOrElse("NULL")

  /** Inverse-CDF sampler over ids 1..n with P(k) ~ 1/k^s. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(rnd: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(n - 1) + 1
    }
  }

  /** One file's events: GTID/BEGIN/XID framing around 1-4 DML rows,
    * a ROWS_QUERY before about one row event in fifty, one DDL per
    * file. With `zipf > 0` keys are drawn from a skewed bounded domain
    * (a drawn live key is updated or deleted, a drawn absent key is
    * inserted); otherwise the mix is 1:1:1 insert/update/delete over
    * fresh and live keys. */
  private def fileEvents(rnd: java.util.Random, shape: Shape, live: Live,
      zipf: Option[Zipf], nextId: () => Int, gno: () => Long, fileNo: Int,
      last: Boolean, ops: mutable.Map[String, Long]): Seq[Ev] = {
    val out = mutable.ArrayBuffer[Ev](PreviousGtids)
    var dml = 0
    val ddlAt = rnd.nextInt(shape.dmlPerFile)
    var ddlDone = false
    while (dml < shape.dmlPerFile) {
      if (dml >= ddlAt && !ddlDone) {
        out += Gtid(gno())
        out += Ddl("testdb", s"CREATE TABLE IF NOT EXISTS t_audit_$fileNo (x INT)")
        ddlDone = true
      }
      val g = gno()
      out += Gtid(g); out += Begin
      val k = (1 + rnd.nextInt(4)).min(shape.dmlPerFile - dml)
      (0 until k).foreach { _ =>
        if (rnd.nextInt(50) == 0) out += RowsQuery(s"-- batch write ${rnd.nextInt(1000000)}")
        val ev: Ev = zipf match {
          case Some(z) =>
            val id = z.draw(rnd)
            live.row.get(id) match {
              case Some(r) if rnd.nextInt(3) == 0 => live.remove(id); Delete(r._1, r._2, r._3)
              case Some(r) =>
                val a = (id, name(rnd), score(rnd)); live.put(a); Update(r, a)
              case None =>
                val a = (id, name(rnd), score(rnd)); live.put(a); Insert(a._1, a._2, a._3)
            }
          case None =>
            rnd.nextInt(3) match {
              case 1 if live.ids.nonEmpty =>
                val r = live.row(live.ids(rnd.nextInt(live.ids.length)))
                val a = (r._1, name(rnd), score(rnd)); live.put(a); Update(r, a)
              case 2 if live.ids.nonEmpty =>
                val r = live.row(live.ids(rnd.nextInt(live.ids.length)))
                live.remove(r._1); Delete(r._1, r._2, r._3)
              case _ =>
                val a = (nextId(), name(rnd), score(rnd)); live.put(a); Insert(a._1, a._2, a._3)
            }
        }
        val op = ev match {
          case _: Insert => "insert"; case _: Update => "update"; case _ => "delete"
        }
        ops(op) = ops.getOrElse(op, 0L) + 1
        out += ev
      }
      out += Xid(g)
      dml += k
    }
    out += (if (last) Stop else Rotate(f"mysql-bin.${fileNo + 2}%06d"))
    out.toSeq
  }

  /** Start positions of the DML row events in a text twin, in order. */
  private def dmlPositions(text: String): Seq[Long] = {
    val out = mutable.ArrayBuffer.empty[Long]
    var at = -1L
    text.linesIterator.foreach { l =>
      if (l.startsWith("# at ")) at = l.substring(5).trim.toLong
      else if (l.startsWith("#") && (l.contains("\tWrite_rows:") ||
          l.contains("\tUpdate_rows:") || l.contains("\tDelete_rows:"))) out += at
    }
    out.toSeq
  }

  def fileName(i: Int, binary: Boolean): String =
    f"mysql-bin.${i + 1}%06d" + (if (binary) ".binlog" else ".txt")

  /** Generate (or reuse) `shape` for `seed` under `root`; returns the
    * directory holding `text/`, `binary/` and `tally.json`. Files are
    * rendered in parallel: each file's events are drawn sequentially
    * first, so the contents do not depend on the thread count. */
  def ensure(root: Path, name: String, seed: Long, shape: Shape): (Path, Tally) = {
    val dir = root.resolve(s"$name-${shape.tag}-s$seed")
    val tallyFile = dir.resolve("tally.json")
    if (Files.exists(tallyFile))
      return (dir, readTally(new String(Files.readAllBytes(tallyFile), UTF_8)))
    val tmp = root.resolve(s".tmp-$name-${shape.tag}-s$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(tmp.resolve("text"))
    Files.createDirectories(tmp.resolve("binary"))
    val rnd = new java.util.Random(seed * 1000003L + shape.tag.hashCode)
    val live = new Live
    val zipf = if (shape.zipf > 0) Some(new Zipf(shape.keyDomain, shape.zipf)) else None
    var id = 0; var g = 0L
    val ops = mutable.LinkedHashMap("insert" -> 0L, "update" -> 0L, "delete" -> 0L)
    val perFile = (0 until shape.files).map { i =>
      fileEvents(rnd, shape, live, zipf, () => { id += 1; id }, () => { g += 1; g },
        i, i == shape.files - 1, ops)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors().min(4))
    val positions = try {
      perFile.zipWithIndex.map { case (evs, i) =>
        pool.submit(new java.util.concurrent.Callable[(String, Seq[Long])] {
          def call(): (String, Seq[Long]) = {
            val (bytes, text) = BinlogBinaryFixture.render(evs, 1786856400L + i * 100000L)
            Files.write(tmp.resolve("binary").resolve(fileName(i, binary = true)), bytes)
            Files.write(tmp.resolve("text").resolve(fileName(i, binary = false)),
              text.getBytes(UTF_8))
            (fileName(i, binary = false).stripSuffix(".txt"), dmlPositions(text))
          }
        })
      }.map(_.get())
    } finally pool.shutdown()
    val tally = Tally(ops.toMap, positions,
      live.row.map { case (k, r) => k -> (r._2, scoreLit(r._3)) }.toMap)
    Files.write(tmp.resolve("tally.json"), writeTally(tally).getBytes(UTF_8))
    try Files.move(tmp, dir)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    (dir, tally)
  }

  def writeTally(t: Tally): String = Json.obj(
    "ops" -> Json.obj(t.ops.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
    "positions" -> Json.arr(t.positions.map { case (f, ps) =>
      Json.arr(Json.str(f), Json.arr(ps.map(p => Json.num(p)): _*)) }: _*),
    "live" -> Json.arr(t.live.toSeq.sortBy(_._1).map { case (k, (n, s)) =>
      Json.arr(Json.num(k), Json.str(n), Json.str(s)) }: _*))

  def readTally(s: String): Tally = {
    val m = Json.parse(s)
    val ops = m.get("ops").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val pos = m.get("positions").elements().asScala.map { e =>
      e.get(0).asText -> e.get(1).elements().asScala.map(_.asLong).toSeq }.toSeq
    val live = m.get("live").elements().asScala.map { e =>
      e.get(0).asInt -> (e.get(1).asText, e.get(2).asText) }.toMap
    Tally(ops, pos, live)
  }
}
