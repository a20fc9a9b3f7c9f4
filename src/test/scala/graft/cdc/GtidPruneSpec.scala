package graft.cdc

import graft.sources.{BinlogBinary, BinlogBinaryFixture}
import graft.streaming.CdcStream
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GTID file-level pruning (seek, not scan): files whose
  * PREVIOUS_GTIDS headers prove them disjoint from --include-gtids are
  * dropped from the read list and NEVER decoded — proven here by
  * poisoning the skipped files' bodies (CRC-corrupt row events behind a
  * valid header), which the decoder would reject loudly if opened. */
class GtidPruneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import BinlogBinaryFixture._

  private val Sid = "a0a1a2a3-a4a5-a6a7-a8a9-aaabacadaeaf"

  /** Three rotated files: f1 executes 1-2 (P₁=∅), f2 executes 3-4
    * (P₂=1-2), f3 executes 5 (P₃=1-4). */
  private def files(): Seq[(String, Seq[Ev])] = Seq(
    "binlog.000001" -> Seq(PreviousGtids,
      Gtid(1), Begin, Insert(1, "a", None), Xid(1),
      Gtid(2), Begin, Insert(2, "b", None), Xid(2),
      Rotate("binlog.000002")),
    "binlog.000002" -> Seq(PrevGtids(Seq((1L, 2L))),
      Gtid(3), Begin, Insert(3, "c", None), Xid(3),
      Gtid(4), Begin, Insert(4, "d", None), Xid(4),
      Rotate("binlog.000003")),
    "binlog.000003" -> Seq(PrevGtids(Seq((1L, 4L))),
      Gtid(5), Begin, Insert(5, "e", None), Xid(5),
      Stop))

  /** Flip a byte inside the body of the first row event (WRITE v1/v2):
    * the CRC check then rejects the file with IllegalArgumentException
    * the moment the decoder opens it — header events stay intact. */
  private def poison(b: Array[Byte]): Array[Byte] = {
    val out = b.clone()
    var off = 4
    while (off + 19 <= out.length) {
      val etype = out(off + 4) & 0xFF
      val size = ((out(off + 9) & 0xFFL) | ((out(off + 10) & 0xFFL) << 8) |
        ((out(off + 11) & 0xFFL) << 16) | ((out(off + 12) & 0xFFL) << 24)).toInt
      if (etype == 23 || etype == 30) { // WRITE_ROWS v1/v2
        out(off + 25) = (out(off + 25) ^ 0x40).toByte
        return out
      }
      off += size
    }
    fail("fixture has no row event to poison")
  }

  private def mkDir(poisonFiles: Set[String], textMode: Boolean = false): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_gtid_prune")
    files().foreach { case (name, evs) =>
      val (bin, text) = render(evs)
      if (textMode)
        java.nio.file.Files.writeString(dir.resolve(name + ".txt"), text)
      else {
        val bytes = if (poisonFiles(name)) poison(bin) else bin
        java.nio.file.Files.write(dir.resolve(name), bytes)
      }
    }
    dir.toString
  }

  test("headerPrevGtids: binary and text twins read the same sets") {
    for ((name, evs) <- files()) {
      val (bin, text) = render(evs)
      val fromBin = BinlogBinary.headerPrevGtids(bin)
      val fromText = BinlogFsm.headerPrevGtids(text.linesIterator)
      assert(fromBin == fromText, name)
    }
    val (b1, t1) = render(files()(1)._2)
    assert(BinlogBinary.headerPrevGtids(b1) == Some(Map(Sid -> Vector((1L, 2L)))))
    assert(BinlogFsm.headerPrevGtids(t1.linesIterator) ==
      Some(Map(Sid -> Seq((1L, 2L)))))
    // a file with no PREVIOUS_GTIDS (pre-5.6): unknown
    val (noPg, noPgText) = render(Seq(Gtid(9), Begin, Insert(9, "z", None), Xid(9)))
    assert(BinlogBinary.headerPrevGtids(noPg).isEmpty)
    assert(BinlogFsm.headerPrevGtids(noPgText.linesIterator).isEmpty)
  }

  test("prune keeps exactly the files that can hold the requested set") {
    for (textMode <- Seq(false, true)) {
      val dir = mkDir(Set.empty, textMode)
      val suffix = if (textMode) ".txt" else ""
      def kept(spec: String) =
        GtidPrune.prune(spark, dir, spec).map(p => new java.io.File(p).getName)
      assert(kept(s"$Sid:5") == Seq("binlog.000003" + suffix))
      assert(kept(s"$Sid:3") == Seq("binlog.000002" + suffix))
      assert(kept(s"$Sid:1") == Seq("binlog.000001" + suffix))
      assert(kept(s"$Sid:2-3") ==
        Seq("binlog.000001", "binlog.000002").map(_ + suffix))
      assert(kept(s"$Sid:1-5") ==
        Seq("binlog.000001", "binlog.000002", "binlog.000003").map(_ + suffix))
      // a foreign uuid can only live past the last header
      assert(kept("b0b1b2b3-b4b5-b6b7-b8b9-babbbcbdbebf:1") ==
        Seq("binlog.000003" + suffix))
    }
  }

  test("skipped files are never opened: poisoned bodies stay untouched (batch binary)") {
    val dir = mkDir(poisonFiles = Set("binlog.000001", "binlog.000002"))
    val cat = Catalog.fixture(spark)
    // sanity: without pruning (no include set) the decoder MUST trip on
    // the poisoned files — proves the poison is real
    intercept[org.apache.spark.SparkException] {
      BinlogBinary.run(spark, dir, cat, CdcConfig()).collect()
    }
    // with --include-gtids 5 the two poisoned files are pruned away and
    // only gno 5's transaction renders
    val got = BinlogBinary.run(spark, dir, cat,
      CdcConfig(includeGtids = Some(s"$Sid:5")))
      .select("sql").collect().map(_.getString(0))
    assert(got.length == 1 && got(0).contains("INSERT"))
    // the CLI's path: CdcJob.run with the default `--format auto` sniffs
    // the magic, then prunes and decodes exactly like the binary entry
    val auto = CdcJob.run(spark, dir, cat,
      CdcConfig(includeGtids = Some(s"$Sid:5")))
      .select("sql").collect().map(_.getString(0))
    assert(auto.toSeq == got.toSeq)
    // a gno beyond every header prunes to just the (clean) last file,
    // where the event filter then drops everything — no decode of the
    // poisoned files, no rows, no error
    assert(BinlogBinary.run(spark, dir, cat,
      CdcConfig(includeGtids = Some(s"$Sid:99"))).count() == 0)
  }

  test("text batch path prunes through CdcJob.run") {
    val dir = mkDir(Set.empty, textMode = true)
    val cat = Catalog.fixture(spark)
    val got = CdcJob.run(spark, dir, cat,
      CdcConfig(includeGtids = Some(s"$Sid:5")))
      .select("sql").collect().map(_.getString(0))
    assert(got.length == 1 && got(0).contains("INSERT"))
    // include-all keeps every transaction
    assert(CdcJob.run(spark, dir, cat,
      CdcConfig(includeGtids = Some(s"$Sid:1-5"))).count() == 5)
  }

  test("streaming catch-up: header-proven stale files skip the decode (S ⊆ P)") {
    // f_old: P = 1-5 ⊇ S, POISONED — the stream must skip it at header
    // cost; f_new: P = 1-5, contains gno 6..7 — flows through
    val dir = java.nio.file.Files.createTempDirectory("graft_gtid_stream")
    val (oldBin, _) = render(Seq(PrevGtids(Seq((1L, 3L))),
      Gtid(4), Begin, Insert(4, "d", None), Xid(4),
      Gtid(5), Begin, Insert(5, "e", None), Xid(5)))
    java.nio.file.Files.write(dir.resolve("binlog.000001"), poison(oldBin))
    val (newBin, _) = render(Seq(PrevGtids(Seq((1L, 5L))),
      Gtid(6), Begin, Insert(6, "f", None), Xid(6)))
    java.nio.file.Files.write(dir.resolve("binlog.000002"), newBin)
    // S = 1-2 is fully executed before BOTH files (P₁ = 1-3, P₂ = 1-5):
    // the stream proves each file stale from its header alone and never
    // decodes a body — including f1's poisoned one
    val q = CdcStream.changes(spark, dir.toString, Catalog.fixture(spark),
      CdcConfig(includeGtids = Some(s"$Sid:1-2")), binary = true)
      .writeStream.format("memory").queryName("gtid_catchup").start()
    try {
      q.processAllAvailable() // would throw (poisoned f1) without the skip
      assert(spark.sql("select * from gtid_catchup").count() == 0)
    } finally q.stop()
    // and a set NOT fully executed before f1 must decode it (and trip) —
    // the skip is exactly S ⊆ P, nothing looser
    val q2 = CdcStream.changes(spark, dir.toString, Catalog.fixture(spark),
      CdcConfig(includeGtids = Some(s"$Sid:4-6")), binary = true)
      .writeStream.format("memory").queryName("gtid_trip").start()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
        throw q2.exception.getOrElse(fail("poisoned file decoded silently"))
      }
    } finally q2.stop()
  }
}
