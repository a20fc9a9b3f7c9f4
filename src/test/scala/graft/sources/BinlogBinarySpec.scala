package graft.sources

import graft.cdc.{BinlogFsm, Catalog, CdcConfig, CdcJob, CdcMain}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The binary binlog source must be indistinguishable from the text
  * path: `BinlogBinary.parseBytes` over a format-v4 file and
  * `BinlogFsm.parse` over that file's `mysqlbinlog -vv` text twin
  * (same real byte offsets, header datetimes, literals) must produce
  * identical RawChange streams — and therefore identical rendered SQL
  * end-to-end.
  */
class BinlogBinarySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val events = Seq(
    BinlogBinaryFixture.Insert(7, "name_7", None),
    BinlogBinaryFixture.Update((7, "name_7", None), (7, "renamed_7", Some(3.5))),
    BinlogBinaryFixture.Insert(8, "with=eq", Some(1.5)),
    BinlogBinaryFixture.Delete(7, "renamed_7", Some(3.5)),
    BinlogBinaryFixture.Ddl("testdb", "alter table t_pk add column extra int"))

  private lazy val (bin, text) = BinlogBinaryFixture.render(events)

  test("binary parse equals text-FSM parse of the -vv twin") {
    val fromBin = BinlogBinary.parseBytes("f", bin, includeDdl = true)
    val fromText = BinlogFsm.parse("f", text.linesIterator, includeDdl = true).toSeq
    assert(fromBin.nonEmpty && fromBin.size == fromText.size)
    // case-class equality is reference equality on Array fields —
    // compare a fully-value-typed projection
    def canon(r: graft.cdc.RawChange) =
      (r.seq, r.startPos, r.stopPos, r.startPosRaw, r.stopPosRaw, r.dtRaw,
        r.db, r.table, r.op, r.beforeOrds.toSeq, r.beforeVals.toSeq,
        r.afterOrds.toSeq, r.afterVals.toSeq, Option(r.ddl))
    for ((b, t) <- fromBin.zip(fromText))
      assert(canon(b) == canon(t), s"binary $b != text $t")
  }

  test("extended type matrix (DATE/DATETIME2/TIMESTAMP2/FLOAT/YEAR/NEWDECIMAL) matches the text FSM") {
    import BinlogBinaryFixture._
    import java.time.{LocalDate, LocalDateTime}
    val full = TypedRow(1,
      date = Some(LocalDate.of(2024, 12, 31)),
      dt = Some((LocalDateTime.of(2024, 2, 29, 23, 59, 58), 42)), // frac .0042
      ts = Some((1700000000L, 7)), // .07 — leading-zero centis
      f = Some(2.5f), year = Some(2024),
      dec = Some(BigDecimal("1234567890.1234"))) // fills DECIMAL(14,4)
    val negDec = full.copy(id = 2, f = Some(8f), // integral float prints bare
      year = Some(0), // SQL YEAR 0000
      dec = Some(BigDecimal("-0.5")), date = Some(LocalDate.of(1999, 1, 1)))
    val allNull = TypedRow(3, None, None, None, None, None, None)
    val evs = Seq(
      Gtid(1L), Begin,
      TypedInsert(full),
      Insert(7, "classic", Some(1.5)), // both table maps live in one stream
      TypedUpdate(full, negDec),
      TypedInsert(allNull),
      TypedDelete(negDec),
      Xid(9L))
    val (b, t) = render(evs)
    val fromBin = BinlogBinary.parseBytes("f", b)
    val fromText = graft.cdc.BinlogFsm.parse("f", t.linesIterator).toSeq
    assert(fromBin.size == 5 && fromText.size == 5)
    def canon(r: graft.cdc.RawChange) =
      (r.seq, r.startPos, r.stopPos, r.db, r.table, r.op,
        r.beforeOrds.toSeq, r.beforeVals.toSeq, r.afterOrds.toSeq, r.afterVals.toSeq)
    for ((bb, tt) <- fromBin.zip(fromText))
      assert(canon(bb) == canon(tt), s"binary $bb != text $tt")
    // spot-pin the literal forms (the -vv rendering contract itself):
    val ins = fromBin.find(r => r.op == "insert" && r.table == "t_types").get
    assert(ins.afterVals.toSeq == Seq("1", "'2024:12:31'",
      "'2024-02-29 23:59:58.0042'", "1700000000.07", "2.5", "2024",
      "1234567890.1234"))
    val upd = fromBin.find(_.op == "update").get
    assert(upd.afterVals.toSeq == Seq("2", "'1999:01:01'",
      "'2024-02-29 23:59:58.0042'", "1700000000.07", "8", "0000", "-0.5000"))
    val nulls = fromBin.find(r => r.op == "insert" && r.afterVals.head == "3").get
    assert(nulls.afterVals.toSeq == Seq("3", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL"))
  }

  test("wide type matrix (CHAR/TEXT/ENUM/SET/BIT/TIME2/JSON + odd fsp) matches the text FSM") {
    import BinlogBinaryFixture._
    import java.time.LocalDateTime
    val full = WideRow(1,
      ch = Some("char12"),
      chBig = Some("B" * 280), // >255-byte CHAR: split-metadata + 2-byte prefix
      vs = Some("varstr with spaces"),
      txt = Some("text 'quote' \\ backslash\nnewlinectl"),
      tiny = Some("tiny"),
      en = Some(2),
      st = Some(0x8001),
      bits = Some(0x2A5),
      tm0 = Some((false, 838, 59, 59)), // TIME's 3-digit hour ceiling
      tm3 = Some((true, 1, 2, 3, 450)), // negative TIME with fraction
      dt1 = Some((LocalDateTime.of(2025, 6, 30, 12, 0, 1), 7)),
      js = Some(JObj(Seq(
        "user" -> JObj(Seq("id" -> JInt(42), "name" -> JStr("a\"b"))),
        "tags" -> JArr(Seq(JStr("x"), JInt(-7), JBool(true), JNull)),
        "score" -> JDbl(2.5)))))
    val other = WideRow(2,
      ch = Some(""), vs = Some("é-accents"), tiny = Some("k=v"),
      en = Some(255), st = Some(3), bits = Some(1),
      tm0 = Some((true, 0, 0, 1)), tm3 = Some((false, 0, 0, 0, 0)),
      js = Some(JArr(Seq(JInt(100000), JInt(5000000000L), JStr(""),
        JObj(Seq())))))
    val nulls = WideRow(3)
    val evs = Seq(
      Gtid(1L), Begin,
      WideInsert(full),
      Insert(7, "classic", Some(1.5)), // three table maps in one stream
      WideUpdate(full, other),
      WideInsert(nulls),
      WideDelete(other),
      Xid(9L))
    val (b, t) = render(evs)
    val fromBin = BinlogBinary.parseBytes("f", b)
    val fromText = graft.cdc.BinlogFsm.parse("f", t.linesIterator).toSeq
    assert(fromBin.size == 5 && fromText.size == 5)
    def canon(r: graft.cdc.RawChange) =
      (r.seq, r.startPos, r.stopPos, r.db, r.table, r.op,
        r.beforeOrds.toSeq, r.beforeVals.toSeq, r.afterOrds.toSeq, r.afterVals.toSeq)
    for ((bb, tt) <- fromBin.zip(fromText))
      assert(canon(bb) == canon(tt), s"binary $bb != text $tt")
    // spot-pin the rendering contract itself (mysqlbinlog forms)
    val ins = fromBin.find(r => r.op == "insert" && r.table == "t_wide").get
    assert(ins.afterVals.toSeq == Seq(
      "1", "'char12'", "'" + "B" * 280 + "'", "'varstr with spaces'",
      "'text \\x27quote\\x27 \\x5c backslash\\x0anewline\\x01ctl'", "'tiny'",
      "2", "b'0000000110000000'", "b'1010100101'",
      "'838:59:59'", "'-01:02:03.450'", "'2025-06-30 12:00:01.7'",
      // the JSON text's own escape backslash (a\"b) is then
      // my_b_write_quoted-escaped to \x5c in the SQL literal
      "'{\"user\": {\"id\": 42, \"name\": \"a\\x5c\"b\"}, " +
        "\"tags\": [\"x\", -7, true, null], \"score\": 2.5}'"))
    val upd = fromBin.find(_.op == "update").get
    assert(upd.afterVals.toSeq == Seq(
      "2", "''", "NULL", "'é-accents'", "NULL", "'k=v'",
      "255", "b'0000001100000000'", "b'0000000001'",
      "'-00:00:01'", "'00:00:00.000'", "NULL",
      "'[100000, 5000000000, \"\", {}]'"))
    val nrow = fromBin.find(r => r.op == "insert" && r.afterVals.head == "3").get
    assert(nrow.afterVals.toSeq == "3" +: Seq.fill(12)("NULL"))
  }

  test("JSON binary codec: int widths, uints, large containers, empty doc") {
    import BinlogBinaryFixture._
    // encoder/decoder round-trips, incl. the LARGE container variant
    // (u32 fields, int32 inlined) nested inside a small one
    val doc = JObj(Seq(
      "big" -> JObj(Seq(
        "i32" -> JInt(1 << 20), "neg" -> JInt(Int.MinValue.toLong),
        "i64" -> JInt(Long.MaxValue), "d" -> JDbl(-0.25)), large = true),
      "arr" -> JArr(Seq(JInt(7), JStr("s")), large = true),
      "empty_o" -> JObj(Seq()), "empty_a" -> JArr(Seq())))
    val bytes = {
      // reuse the fixture's row-level encoding via a 1-column image:
      // simplest is to encode the doc directly through a WideRow render
      val (bin, txt) = render(Seq(WideInsert(WideRow(1, js = Some(doc)))))
      val fromBin = BinlogBinary.parseBytes("f", bin)
      val fromTxt = graft.cdc.BinlogFsm.parse("f", txt.linesIterator).toSeq
      assert(fromBin.map(_.afterVals.toSeq) == fromTxt.map(_.afterVals.toSeq))
      fromBin.head.afterVals.last
    }
    assert(bytes == "'" + jsonText(doc) + "'")
    // hand-assembled scalars the encoder never emits: uint16/32/64
    assert(JsonBinary.toText(Array[Byte](0x06, 0xFF.toByte, 0xFF.toByte)) == "65535")
    assert(JsonBinary.toText(
      Array[Byte](0x08, -1, -1, -1, -1)) == "4294967295")
    assert(JsonBinary.toText(
      Array[Byte](0x0A) ++ Array.fill(8)(-1: Byte)) == "18446744073709551615")
    // top-level scalar string + empty doc
    assert(JsonBinary.toText(Array[Byte](0x0C, 2, 'h', 'i')) == "\"hi\"")
    assert(JsonBinary.toText(Array.empty[Byte]) == "null")
    // corrupt type byte is a diagnosable error, not a bounds escape
    intercept[IllegalArgumentException](JsonBinary.toText(Array[Byte](0x7E, 0)))
  }

  test("JSON opaque values (0x0F): temporals/decimals/base64 pinned literal-for-literal") {
    import BinlogBinaryFixture._
    // literals pinned to MySQL's documented Json_dom rendering (the
    // DATETIME example is verbatim from the JSON-type manual page;
    // x'cafe' → base64:type15:yv4= likewise)
    assert(jsonText(JDate(2015, 1, 15)) == "\"2015-01-15\"")
    assert(jsonText(JDateTime(2015, 1, 15, 23, 24, 25, 0)) ==
      "\"2015-01-15 23:24:25.000000\"")
    assert(jsonText(JTime(neg = false, 23, 24, 25, 0)) == "\"23:24:25.000000\"")
    assert(jsonText(JTime(neg = true, 1, 2, 3, 500000)) == "\"-01:02:03.500000\"")
    assert(jsonText(JTime(neg = false, 838, 59, 59, 1)) == "\"838:59:59.000001\"")
    assert(jsonText(JDecimal(BigDecimal("3.14"), 10, 2)) == "3.14")
    assert(jsonText(JDecimal(BigDecimal("-0.5"), 8, 4)) == "-0.5000")
    assert(jsonText(JOpaque(15, Array(0xCA.toByte, 0xFE.toByte))) ==
      "\"base64:type15:yv4=\"")
    // …and the BINARY path decodes to exactly those literals: the
    // encoder/decoder round-trip through a full row image, opaques in
    // scalar, object, and (large) array positions
    val doc = JObj(Seq(
      "d" -> JDate(2015, 1, 15),
      "dt" -> JDateTime(2015, 1, 15, 23, 24, 25, 123456),
      "t" -> JTime(neg = true, 100, 0, 59, 999999),
      "dec" -> JDecimal(BigDecimal("-1234567.89"), 12, 2),
      "blob" -> JOpaque(15, Array(0xCA.toByte, 0xFE.toByte)),
      "arr" -> JArr(Seq(JDate(1, 1, 1), JDecimal(BigDecimal(0), 5, 0),
        JOpaque(15, Array.empty[Byte])), large = true)))
    val (bin, txt) = render(Seq(WideInsert(WideRow(1, js = Some(doc)))))
    val fromBin = BinlogBinary.parseBytes("f", bin)
    val fromTxt = graft.cdc.BinlogFsm.parse("f", txt.linesIterator).toSeq
    assert(fromBin.map(_.afterVals.toSeq) == fromTxt.map(_.afterVals.toSeq))
    assert(fromBin.head.afterVals.last == "'" + jsonText(doc) + "'")
    assert(fromBin.head.afterVals.last.contains("\"2015-01-15\""))
    assert(fromBin.head.afterVals.last.contains("-1234567.89"))
  }

  test("v1 rows events (5.1-era framing): decode equals the text FSM and the v2 stream") {
    import BinlogBinaryFixture._
    val evs = Seq(
      Insert(7, "name_7", None),
      Update((7, "name_7", None), (7, "renamed_7", Some(3.5))),
      Insert(8, "with=eq", Some(1.5)),
      Delete(7, "renamed_7", Some(3.5)))
    val (b1, t1) = render(evs, rowsV1 = true)
    val fromBin = BinlogBinary.parseBytes("f", b1)
    val fromText = graft.cdc.BinlogFsm.parse("f", t1.linesIterator).toSeq
    assert(fromBin.size == 4 && fromText.size == 4)
    def values(r: graft.cdc.RawChange) =
      (r.op, r.beforeVals.toSeq, r.afterVals.toSeq)
    for ((bb, tt) <- fromBin.zip(fromText))
      assert(values(bb) == values(tt), s"v1 binary $bb != text $tt")
    // same logical stream under v2 framing: identical images/ops
    // (positions differ — v2 events carry the 2-byte extra field)
    val fromV2 = BinlogBinary.parseBytes("f", render(evs)._1)
    assert(fromBin.map(values) == fromV2.map(values))
  }

  test("schema evolution: mid-stream TABLE_MAP widens the table; later events decode 4 columns") {
    import BinlogBinaryFixture._
    val evs = Seq(
      Insert(1, "before", Some(1.5)), // 3-column schema
      Ddl("testdb", "alter table t_pk add column extra int"),
      RemapWide, // the server re-emits the map after ALTER
      InsertWide(2, "after", Some(2.5), Some(42)),
      InsertWide(3, "nulls", None, None))
    val (b, t) = render(evs)
    val fromBin = BinlogBinary.parseBytes("f", b, includeDdl = true)
    val fromText = graft.cdc.BinlogFsm.parse("f", t.linesIterator, includeDdl = true).toSeq
    assert(fromBin.size == 4 && fromText.size == 4) // 2+1 DDL+2 minus map
    def canon(r: graft.cdc.RawChange) =
      (r.seq, r.db, r.table, r.op, r.afterOrds.toSeq, r.afterVals.toSeq, Option(r.ddl))
    for ((bb, tt) <- fromBin.zip(fromText))
      assert(canon(bb) == canon(tt), s"binary $bb != text $tt")
    val rows = fromBin.filter(_.op == "insert")
    assert(rows(0).afterVals.toSeq == Seq("1", "'before'", "1.5"))
    assert(rows(1).afterVals.toSeq == Seq("2", "'after'", "2.5", "42"))
    assert(rows(2).afterVals.toSeq == Seq("3", "'nulls'", "NULL", "NULL"))
  }

  test("typed-column differential fuzz: random rows decode identically on both paths (3 seeds x 60)") {
    import BinlogBinaryFixture._
    import java.time.{LocalDate, LocalDateTime}
    def genRow(rnd: scala.util.Random, id: Int): TypedRow = {
      def opt[T](v: => T): Option[T] = if (rnd.nextInt(4) == 0) None else Some(v)
      TypedRow(id,
        date = opt(LocalDate.of(1900 + rnd.nextInt(256), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28))),
        dt = opt((LocalDateTime.of(1 + rnd.nextInt(9998), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60)),
          rnd.nextInt(10000))),
        ts = opt((rnd.nextLong(1L << 32), rnd.nextInt(100))),
        f = opt(java.lang.Float.intBitsToFloat(
          // finite floats only: clear the exponent's all-ones pattern
          rnd.nextInt() & ~0x7F800000 | (rnd.nextInt(0xFE) << 23))),
        year = opt(if (rnd.nextInt(8) == 0) 0 else 1901 + rnd.nextInt(255)),
        dec = opt(BigDecimal(BigInt(rnd.nextLong(100000000000000L))
          * (if (rnd.nextBoolean()) 1 else -1), 4)))
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val evs: Seq[Ev] = (0 until 60).map { i =>
        rnd.nextInt(3) match {
          case 0 => TypedInsert(genRow(rnd, i))
          case 1 => TypedUpdate(genRow(rnd, i), genRow(rnd, i + 1000))
          case _ => TypedDelete(genRow(rnd, i))
        }
      }
      val (b, t) = render(evs)
      val fromBin = BinlogBinary.parseBytes("f", b)
      val fromText = graft.cdc.BinlogFsm.parse("f", t.linesIterator).toSeq
      assert(fromBin.size == fromText.size && fromBin.nonEmpty, s"seed=$seed")
      def canon(r: graft.cdc.RawChange) =
        (r.seq, r.startPos, r.stopPos, r.db, r.table, r.op,
          r.beforeOrds.toSeq, r.beforeVals.toSeq, r.afterOrds.toSeq, r.afterVals.toSeq)
      for ((bb, tt) <- fromBin.zip(fromText))
        assert(canon(bb) == canon(tt), s"seed=$seed: binary $bb != text $tt")
    }
  }

  test("wide-column differential fuzz: string/ENUM/SET/BIT/TIME2/JSON rows decode identically (3 seeds x 40)") {
    import BinlogBinaryFixture._
    import java.time.LocalDateTime
    // alphabet exercises the my_b_write_quoted escapes (quote,
    // backslash, control bytes, multi-byte UTF-8, `=`) while avoiding
    // the text path's documented capture quirks (`###` and `/*`
    // inside a literal — log2sql.py:96's annotation cut)
    val alpha = "abcXYZ 019é汉'\\\n=\"_-"
    def genStr(rnd: scala.util.Random, maxLen: Int): String =
      (0 until rnd.nextInt(maxLen + 1))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def genJson(rnd: scala.util.Random, depth: Int): J = rnd.nextInt(10) match {
      case 0 => JNull
      case 1 => JBool(rnd.nextBoolean())
      case 2 => JInt(rnd.nextLong() >> (rnd.nextInt(5) * 12))
      case 3 => JDbl(rnd.nextInt(1000) / 4.0)
      case 4 => JStr(genStr(rnd, 6))
      // opaque (0x0F) values, every family: packed temporals (odd
      // hours/micros extremes), signed decimals across precisions,
      // and raw base64 opaques (empty data included)
      case 5 => rnd.nextInt(5) match {
        case 0 => JDate(1 + rnd.nextInt(9998), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28))
        case 1 => JDateTime(1 + rnd.nextInt(9998), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60),
          rnd.nextInt(60), rnd.nextInt(1000000))
        case 2 =>
          val (h, mi, s2, us) = (rnd.nextInt(839), rnd.nextInt(60),
            rnd.nextInt(60), rnd.nextInt(1000000))
          // -00:00:00.000000 is not a distinct TIME value
          JTime(rnd.nextBoolean() && (h + mi + s2 + us) > 0, h, mi, s2, us)
        case 3 =>
          val scale = rnd.nextInt(6)
          val digits = 1 + scale + rnd.nextInt(8)
          val unscaled = BigInt(digits * 3 + 1, rnd) % BigInt(10).pow(digits)
          val v = BigDecimal(unscaled, scale) *
            (if (rnd.nextBoolean()) -1 else 1)
          JDecimal(v, digits, scale)
        case _ => JOpaque(15,
          Array.fill[Byte](rnd.nextInt(8))(rnd.nextInt(256).toByte))
      }
      case 6 | 7 if depth > 0 =>
        JArr(Seq.fill(rnd.nextInt(4))(genJson(rnd, depth - 1)),
          large = rnd.nextInt(4) == 0)
      case _ if depth > 0 =>
        JObj((0 until rnd.nextInt(4)).map(i =>
          s"k$i${genStr(rnd, 3)}" -> genJson(rnd, depth - 1)),
          large = rnd.nextInt(4) == 0)
      case _ => JInt(rnd.nextInt(100).toLong)
    }
    def genWide(rnd: scala.util.Random, id: Int): WideRow = {
      def opt[T](v: => T): Option[T] = if (rnd.nextInt(4) == 0) None else Some(v)
      def time(withFrac: Boolean) = {
        val (h, m, s) = (rnd.nextInt(839), rnd.nextInt(60), rnd.nextInt(60))
        val milli = if (withFrac) rnd.nextInt(1000) else 0
        // -00:00:00.000 is not a distinct TIME value — never generated
        val neg = rnd.nextBoolean() && (h + m + s + milli) > 0
        (neg, h, m, s, milli)
      }
      WideRow(id,
        ch = opt(genStr(rnd, 6)), chBig = opt(genStr(rnd, 90)),
        vs = opt(genStr(rnd, 20)), txt = opt(genStr(rnd, 40)),
        tiny = opt(genStr(rnd, 10)),
        en = opt(1 + rnd.nextInt(255)), st = opt(rnd.nextInt(65536)),
        bits = opt(rnd.nextInt(1024)),
        tm0 = opt { val (n, h, m, s, _) = time(withFrac = false); (n, h, m, s) },
        tm3 = opt(time(withFrac = true)),
        dt1 = opt((LocalDateTime.of(1 + rnd.nextInt(9998), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60),
          rnd.nextInt(60)), rnd.nextInt(10))),
        js = opt(genJson(rnd, 2)))
    }
    for (seed <- 11 to 13) {
      val rnd = new scala.util.Random(seed)
      val evs: Seq[Ev] = (0 until 40).map { i =>
        rnd.nextInt(3) match {
          case 0 => WideInsert(genWide(rnd, i))
          case 1 => WideUpdate(genWide(rnd, i), genWide(rnd, i + 1000))
          case _ => WideDelete(genWide(rnd, i))
        }
      }
      val (b, t) = render(evs)
      val fromBin = BinlogBinary.parseBytes("f", b)
      val fromText = graft.cdc.BinlogFsm.parse("f", t.linesIterator).toSeq
      assert(fromBin.size == fromText.size && fromBin.nonEmpty, s"seed=$seed")
      def canon(r: graft.cdc.RawChange) =
        (r.seq, r.startPos, r.stopPos, r.db, r.table, r.op,
          r.beforeOrds.toSeq, r.beforeVals.toSeq, r.afterOrds.toSeq, r.afterVals.toSeq)
      for ((bb, tt) <- fromBin.zip(fromText))
        assert(canon(bb) == canon(tt), s"seed=$seed: binary $bb != text $tt")
    }
  }

  test("integer type family decodes signed TINY/SHORT/INT24/LONGLONG") {
    // hand-assembled stream: FDE(no checksum) + TABLE_MAP(4 int cols)
    // + one WRITE_ROWS v2 with negative values in every width
    val buf = collection.mutable.ArrayBuffer[Byte](0xFE.toByte, 'b', 'i', 'n')
    def le(v: Long, n: Int) = (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte)
    def event(etype: Int, payload: Seq[Byte]): Unit = {
      val size = 19 + payload.length
      buf ++= le(1786856400L, 4); buf += etype.toByte; buf ++= le(1, 4)
      buf ++= le(size, 4); buf ++= le(buf.length - 4 + size, 4); buf ++= le(0, 2)
      buf ++= payload
    }
    // FDE declaring checksum alg 0 (byte 5-from-end = 0)
    event(15, le(4, 2) ++ Seq.fill(50)(' '.toByte) ++ le(0, 4) ++
      Seq(19.toByte) ++ Seq.fill(40)(0.toByte) ++ Seq(0.toByte, 0, 0, 0, 0))
    // TABLE_MAP: db d, table w, cols TINY SHORT INT24 LONGLONG (no meta)
    event(19, le(108, 6) ++ le(1, 2) ++
      Seq(1.toByte) ++ "d".getBytes.toSeq ++ Seq(0.toByte) ++
      Seq(1.toByte) ++ "w".getBytes.toSeq ++ Seq(0.toByte) ++
      Seq(4.toByte) ++ Seq[Byte](1, 2, 9, 8) ++ Seq(0.toByte) ++ Seq(0.toByte))
    // WRITE_ROWS v2: all cols included, no nulls, values -5, -300,
    // -70000, -5000000000
    event(30, le(108, 6) ++ le(1, 2) ++ le(2, 2) ++
      Seq(4.toByte, 0x0F.toByte, 0.toByte) ++
      le(-5L, 1) ++ le(-300L, 2) ++ le(-70000L, 3) ++ le(-5000000000L, 8))
    val out = BinlogBinary.parseBytes("f", buf.toArray)
    assert(out.size == 1)
    assert(out.head.afterVals.toSeq ==
      Seq("-5", "-300", "-70000", "-5000000000"))
    assert(out.head.db == "d" && out.head.table == "w" && out.head.op == "insert")
  }

  test("pre-5.6 FDE never enables checksum stripping (ADVICE r4)") {
    // On a pre-5.6 server the byte 5-from-the-end of the FDE is a
    // post-header-length entry, not a checksum-algorithm byte. Plant a
    // coincidental 1 there under server version 5.5.30: the decoder
    // must keep checksums OFF or it silently strips 4 real payload
    // bytes from every following event.
    val buf = collection.mutable.ArrayBuffer[Byte](0xFE.toByte, 'b', 'i', 'n')
    def le(v: Long, n: Int) = (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte)
    def event(etype: Int, payload: Seq[Byte]): Unit = {
      val size = 19 + payload.length
      buf ++= le(1786856400L, 4); buf += etype.toByte; buf ++= le(1, 4)
      buf ++= le(size, 4); buf ++= le(buf.length - 4 + size, 4); buf ++= le(0, 2)
      buf ++= payload
    }
    val ver = "5.5.30".getBytes.toSeq ++ Seq.fill(44)(0.toByte)
    val postHeader = Seq.tabulate(40)(i => if (i == 35) 1.toByte else 0.toByte)
    event(15, le(4, 2) ++ ver ++ le(0, 4) ++ Seq(19.toByte) ++ postHeader)
    event(19, le(108, 6) ++ le(1, 2) ++
      Seq(1.toByte) ++ "d".getBytes.toSeq ++ Seq(0.toByte) ++
      Seq(1.toByte) ++ "w".getBytes.toSeq ++ Seq(0.toByte) ++
      Seq(1.toByte) ++ Seq[Byte](3) ++ Seq(0.toByte) ++ Seq(0.toByte))
    // WRITE v2, one INT row, NO trailing CRC (pre-5.6 file)
    event(30, le(108, 6) ++ le(1, 2) ++ le(2, 2) ++
      Seq(1.toByte, 0x01.toByte, 0.toByte) ++ le(42L, 4))
    val out = BinlogBinary.parseBytes("f", buf.toArray)
    assert(out.size == 1 && out.head.afterVals.toSeq == Seq("42"))
  }

  test("lenenc NULL/error prefixes fail fast instead of misdecoding") {
    // TABLE_MAP whose column-count lenenc byte is 0xFB (the NULL
    // marker): a corrupt stream must throw, not decode 8 junk bytes
    val buf = collection.mutable.ArrayBuffer[Byte](0xFE.toByte, 'b', 'i', 'n')
    def le(v: Long, n: Int) = (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte)
    def event(etype: Int, payload: Seq[Byte]): Unit = {
      val size = 19 + payload.length
      buf ++= le(1786856400L, 4); buf += etype.toByte; buf ++= le(1, 4)
      buf ++= le(size, 4); buf ++= le(buf.length - 4 + size, 4); buf ++= le(0, 2)
      buf ++= payload
    }
    event(19, le(108, 6) ++ le(1, 2) ++
      Seq(1.toByte) ++ "d".getBytes.toSeq ++ Seq(0.toByte) ++
      Seq(1.toByte) ++ "w".getBytes.toSeq ++ Seq(0.toByte) ++
      Seq(0xFB.toByte) ++ Seq.fill(16)(0.toByte))
    val ex = intercept[IllegalArgumentException] {
      BinlogBinary.parseBytes("f", buf.toArray)
    }
    assert(ex.getMessage.contains("0xFB"))
  }

  test("truncated binary tail is discarded, not thrown (totality)") {
    val cut = java.util.Arrays.copyOfRange(bin, 0, bin.length - 7)
    val parsed = BinlogBinary.parseBytes("f", cut, includeDdl = true)
    // the last event (DDL) is truncated away; earlier events survive
    assert(parsed.size == BinlogBinary.parseBytes("f", bin, true).size - 1)
    assert(BinlogBinary.parseBytes("f", Array[Byte](1, 2, 3)).isEmpty)
  }

  test("corruption containment: any single flipped byte → CRC error or clean prefix") {
    val clean = BinlogBinary.parseBytes("f", bin, includeDdl = true)
      .map(r => (r.seq, r.db, r.table, r.op, r.startPos)).toList
    assert(clean.nonEmpty)
    // the FDE is the first event after the magic; its size sits at
    // header offset 9 (ts 4 + type 1 + server_id 4), little-endian
    val fdeEnd = 4 + (0 until 4).map(i => (bin(4 + 9 + i) & 0xFF) << (8 * i)).sum
    val rnd = new scala.util.Random(7)
    var crcCaught = 0
    for (_ <- 1 to 300) {
      // CHECKSUMS INTACT (flip after the FDE): corruption must either
      // be blamed by the CRC, or — when a header size-field flip
      // legally truncates the tail — yield a PREFIX of the clean
      // events, never different ones, and never a raw bounds error
      val pos = fdeEnd + rnd.nextInt(bin.length - fdeEnd)
      val mut = bin.clone()
      mut(pos) = (mut(pos) ^ (1 << rnd.nextInt(8))).toByte
      try {
        val got = BinlogBinary.parseBytes("f", mut, includeDdl = true)
          .map(r => (r.seq, r.db, r.table, r.op, r.startPos)).toList
        assert(clean.startsWith(got), s"pos=$pos got=$got")
      } catch {
        case e: IllegalArgumentException =>
          if (e.getMessage.contains("CRC32 mismatch")) crcCaught += 1
      }
    }
    // the overwhelming majority of interior flips must be CAUGHT by
    // the integrity check, not absorbed
    assert(crcCaught >= 200, s"only $crcCaught/300 flips caught by CRC")
    // FDE flips can disable checksum DETECTION itself (the pre-5.6.1
    // ambiguity) — containment still holds: any outcome must be a
    // normal return or a diagnosable IllegalArgumentException, never
    // a raw bounds/NPE escape
    for (pos <- 4 until fdeEnd; bit <- Seq(0, 4)) {
      val mut = bin.clone()
      mut(pos) = (mut(pos) ^ (1 << bit)).toByte
      try BinlogBinary.parseBytes("f", mut, includeDdl = true)
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("GTID/XID/ROTATE framing: rotated two-file stream matches the text FSM") {
    import BinlogBinaryFixture._
    // A real 5.6+ binlog frames every transaction: PREVIOUS_GTIDS after
    // the FDE, GTID + BEGIN before each transaction's rows, XID at each
    // commit, ROTATE at the file boundary, STOP at server shutdown.
    // Both decode paths must skip all of them — same row payloads, same
    // real byte positions — across the file rotation.
    val file1 = Seq(PreviousGtids,
      Gtid(1), Begin, Insert(20, "txn1_a", Some(0.5)),
      Insert(21, "txn1_b", None), Xid(101),
      Gtid(2), Begin,
      Update((20, "txn1_a", Some(0.5)), (20, "txn1_a2", Some(1.5))), Xid(102),
      Ddl("testdb", "alter table t_pk add column framed int"),
      Rotate("binlog.000002"))
    val file2 = Seq(PreviousGtids,
      Gtid(3), Begin, Delete(21, "txn1_b", None), Xid(103),
      // ANONYMOUS transaction after a GTID'd one: must NOT inherit
      // gno 3's scope (ADVICE r11 — both decoders reset the frame)
      AnonymousGtid, Begin, Insert(22, "anon_row", Some(2.5)), Xid(104),
      Stop)
    def canon(r: graft.cdc.RawChange) =
      (r.seq, r.startPos, r.stopPos, r.startPosRaw, r.stopPosRaw, r.dtRaw,
        r.db, r.table, r.op, r.beforeOrds.toSeq, r.beforeVals.toSeq,
        r.afterOrds.toSeq, r.afterVals.toSeq, Option(r.ddl), r.gtid)
    val dir = java.nio.file.Files.createTempDirectory("graft_rot")
    for ((evs, name) <- Seq((file1, "binlog.000001"), (file2, "binlog.000002"))) {
      val (b, t) = BinlogBinaryFixture.render(evs)
      java.nio.file.Files.write(dir.resolve(name), b)
      val fromBin = BinlogBinary.parseBytes(name, b, includeDdl = true)
      val fromText = BinlogFsm.parse(name, t.linesIterator, includeDdl = true).toSeq
      assert(fromBin.nonEmpty)
      assert(fromBin.map(canon) == fromText.map(canon), s"mismatch in $name")
    }
    // every event carries its transaction's GTID (uuid:gno), from both
    // decoders, across the rotation — the DDL after Xid(102) has no
    // framing GTID of its own and stays in gno 2's scope
    val sid = "a0a1a2a3-a4a5-a6a7-a8a9-aaabacadaeaf"
    assert(BinlogBinary.parseBytes("f1", render(file1)._1, includeDdl = true)
      .map(_.gtid) == Seq(s"$sid:1", s"$sid:1", s"$sid:2", s"$sid:2"))
    assert(BinlogBinary.parseBytes("f2", render(file2)._1)
      .map(_.gtid) == Seq(s"$sid:3", ""))
    // framing events contribute ZERO changes; row/DDL order is intact
    val (b1, _) = render(file1)
    assert(BinlogBinary.parseBytes("f1", b1, includeDdl = true).map(_.op) ==
      Seq("insert", "insert", "update", "ddl"))
    val (b2, _) = render(file2)
    assert(BinlogBinary.parseBytes("f2", b2).map(_.op) ==
      Seq("delete", "insert"))
    // DataFrame path over the rotated directory: per-file tasks, all
    // six changes survive, (file, seq) gives the stream order
    val df = BinlogBinary.parse(spark, dir.toString, includeDdl = true)
    assert(df.count() == 6)
    val ops = df.orderBy("file", "seq").select("op")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("insert", "insert", "update", "ddl", "delete", "insert"))
  }

  test("--format auto: magic sniffing routes raw binlog input to the binary decoder") {
    val bdir = java.nio.file.Files.createTempDirectory("graft_sniff_bin")
    java.nio.file.Files.write(bdir.resolve("binlog.000001"), bin)
    // directory of raw .binlog files AND a single raw file both sniff binary
    assert(BinlogBinary.isBinlog(spark, bdir.toString))
    assert(BinlogBinary.isBinlog(spark, bdir.resolve("binlog.000001").toString))
    // mysqlbinlog -vv text sniffs text
    val tdir = java.nio.file.Files.createTempDirectory("graft_sniff_txt")
    java.nio.file.Files.writeString(tdir.resolve("binlog.000001.txt"), text)
    assert(!BinlogBinary.isBinlog(spark, tdir.toString))
    // flag surface: default auto, explicit values parse, junk rejected
    assert(CdcMain.parseArgs(Array("--binlog", "x"))._3.format == "auto")
    assert(CdcMain.parseArgs(
      Array("--binlog", "x", "--format", "binary"))._3.format == "binary")
    assert(CdcMain.parseArgs(
      Array("--binlog", "x", "--format=text"))._3.format == "text")
    intercept[IllegalArgumentException](
      CdcMain.parseArgs(Array("--binlog", "x", "--format", "orc")))
  }

  test("--evolve-schema on the binary BATCH path resolves by log position (r14 fix)") {
    import BinlogBinaryFixture._
    val evs = Seq(
      Insert(1, "a", Some(1.5)),
      Ddl("testdb", "alter table t_pk rename column name to name2"),
      Insert(2, "b", Some(2.5)))
    val dir = java.nio.file.Files.createTempDirectory("graft_bevolve")
    java.nio.file.Files.write(dir.resolve("binlog.000001"), render(evs)._1)
    val cat = Catalog.fixture(spark)
    def inserts(cfg: CdcConfig): Seq[String] =
      BinlogBinary.run(spark, dir.toString, cat, cfg)
        .filter(org.apache.spark.sql.functions.col("op") === "insert")
        .select("sql").collect().map(_.getString(0)).toSeq
    val evolvedSql = inserts(CdcConfig(evolveSchema = true))
    assert(evolvedSql.size == 2)
    assert(evolvedSql.head.contains("`name`") && !evolvedSql.head.contains("`name2`"))
    assert(evolvedSql(1).contains("`name2`"),
      s"post-ALTER insert must use the renamed column: ${evolvedSql(1)}")
    // without the flag: live-catalog names throughout (the reference's
    // behavior the flag exists to fix)
    val plain = inserts(CdcConfig())
    assert(plain.forall(s => s.contains("`name`") && !s.contains("`name2`")))
  }

  test("binary STREAMING evolve: a mid-directory ALTER versions later files") {
    import BinlogBinaryFixture._
    val dir = java.nio.file.Files.createTempDirectory("graft_bsevolve")
    val f0 = render(Seq(
      Insert(1, "a", Some(1.5)),
      Ddl("testdb", "alter table t_pk rename column name to name2")))._1
    val f1 = render(Seq(Insert(2, "b", Some(2.5))))._1
    java.nio.file.Files.write(dir.resolve("binlog.000000"), f0)
    java.nio.file.Files.write(dir.resolve("binlog.000001"), f1)
    java.nio.file.Files.setLastModifiedTime(dir.resolve("binlog.000000"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000))
    java.nio.file.Files.setLastModifiedTime(dir.resolve("binlog.000001"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    val cat = Catalog.fixture(spark)
    val cfg = CdcConfig(evolveSchema = true)
    var acc = Vector.empty[(String, Long, String)]
    val cp = java.nio.file.Files.createTempDirectory("graft_bsevolve_cp").toString
    val q = graft.streaming.CdcStream.startEvolved(
      spark, dir.toString, cat, cfg, cp, maxFilesPerTrigger = 1, binary = true) {
      (b: org.apache.spark.sql.DataFrame, _: Long) =>
        acc ++= b.select("file", "seq", "sql").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    }
    try q.processAllAvailable() finally q.stop()
    val batch = BinlogBinary.run(spark, dir.toString, cat, cfg)
      .select("file", "seq", "sql").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(acc.sortBy(t => (t._1, t._2)) == batch,
      "binary stream-evolved render must equal the binary batch render")
    val later = acc.filter(_._1.contains("binlog.000001")).map(_._3)
    assert(later.nonEmpty && later.forall(_.contains("`name2`")),
      s"file1's inserts must resolve against the file0 ALTER: $later")
  }

  test("binary pipeline renders the same SQL as the text pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bbin")
    val binPath = dir.resolve("binlog.000001")
    val txtPath = dir.resolve("binlog.000001.txt")
    java.nio.file.Files.write(binPath, bin)
    java.nio.file.Files.writeString(txtPath, text)
    val cfg = CdcConfig(includeDdl = true)
    val cat = Catalog.fixture(spark)
    val sqlBin = BinlogBinary.run(spark, binPath.toString, cat, cfg)
      .select("sql").collect().map(_.getString(0)).toSeq
    val sqlTxt = CdcJob.run(spark, txtPath.toString, cat, cfg)
      .select("sql").collect().map(_.getString(0)).toSeq
    assert(sqlBin.nonEmpty && sqlBin == sqlTxt)
  }

  test("transaction compression: ZSTD payload replay equals the uncompressed stream") {
    import BinlogBinaryFixture._
    val evs = Seq(
      PrevGtids(Seq((1L, 10L))),
      Gtid(11), Begin,
      Insert(1, "alpha", Some(1.5)),
      Update((1, "alpha", Some(1.5)), (1, "beta", None)),
      Xid(11),
      Gtid(12), Begin,
      Delete(1, "beta", None),
      Insert(2, "with=eq", Some(2.5)),
      Xid(12),
      // a DDL outside any transaction must stay outside the payloads
      Ddl("testdb", "alter table t_pk add column extra int"),
      AnonymousGtid, Begin,
      Insert(3, "anon", None),
      Xid(13),
      Stop)
    val (plain, _) = render(evs)
    val zstd = compressTransactions(plain)
    val none = compressTransactions(plain, zstd = false)
    // the compressed file is a different byte stream
    assert(zstd.length != plain.length)
    // the NONE variant embeds the payload raw — still reframed
    assert(!java.util.Arrays.equals(none, plain))
    def canon(r: graft.cdc.RawChange) =
      (r.seq, r.db, r.table, r.op, r.beforeOrds.toSeq, r.beforeVals.toSeq,
        r.afterOrds.toSeq, r.afterVals.toSeq, Option(r.ddl), r.gtid)
    val fromPlain = BinlogBinary.parseBytes("f", plain, includeDdl = true)
    val fromZstd = BinlogBinary.parseBytes("f", zstd, includeDdl = true)
    val fromNone = BinlogBinary.parseBytes("f", none, includeDdl = true)
    assert(fromPlain.size == 6 && fromZstd.size == 6 && fromNone.size == 6)
    assert(fromPlain.map(canon) == fromZstd.map(canon))
    assert(fromPlain.map(canon) == fromNone.map(canon))
    // inner events are pinned to their payload event's file offset:
    // one start_pos per transaction, ascending across transactions
    val txnPos = fromZstd.filter(_.op != "ddl").map(_.startPos)
    assert(txnPos.distinct.size == 3 && txnPos == txnPos.sorted)
    // GTID attribution crosses the payload boundary (the GTID event
    // stays outside, uncompressed)
    assert(fromZstd.count(_.gtid.endsWith(":11")) == 2)
    // the out-of-txn DDL inherits :12's scope too (no reset between)
    assert(fromZstd.count(r => r.op != "ddl" && r.gtid.endsWith(":12")) == 2)
    assert(fromZstd.filter(_.op == "insert").last.gtid == "") // anonymous txn
    // a corrupted compressed body surfaces as a diagnosable error
    val broken = zstd.clone()
    // flip a byte inside the first payload body and re-seal its CRC
    val payloadOff = {
      var off = 4; var found = -1
      while (found < 0 && off + 19 <= broken.length) {
        if ((broken(off + 4) & 0xFF) == 40) found = off
        else off += (broken(off + 9) & 0xFF) | ((broken(off + 10) & 0xFF) << 8) |
          ((broken(off + 11) & 0xFF) << 16) | ((broken(off + 12) & 0xFF) << 24)
      }
      found
    }
    assert(payloadOff > 0)
    val evSize = (broken(payloadOff + 9) & 0xFF) |
      ((broken(payloadOff + 10) & 0xFF) << 8) |
      ((broken(payloadOff + 11) & 0xFF) << 16) |
      ((broken(payloadOff + 12) & 0xFF) << 24)
    // smash the ZSTD frame magic (28 B5 2F FD) inside the payload so
    // the decompressor deterministically rejects the body
    val magicAt = (payloadOff until payloadOff + evSize - 4).find(i =>
      (broken(i) & 0xFF) == 0x28 && (broken(i + 1) & 0xFF) == 0xB5 &&
        (broken(i + 2) & 0xFF) == 0x2F && (broken(i + 3) & 0xFF) == 0xFD).get
    broken(magicAt) = (broken(magicAt) ^ 0x5A).toByte
    val crc = new java.util.zip.CRC32
    crc.update(broken, payloadOff, evSize - 4)
    var k = 0
    while (k < 4) {
      broken(payloadOff + evSize - 4 + k) = ((crc.getValue >> (8 * k)) & 0xFF).toByte
      k += 1
    }
    val e = intercept[IllegalArgumentException] {
      BinlogBinary.parseBytes("f", broken)
    }
    assert(e.getMessage.contains("corrupt") || e.getMessage.contains("payload"),
      e.getMessage)

    // a TLV header that never yields the type-0 end mark must surface
    // as the decoder's standard corrupt-payload diagnostic, not walk
    // the cursor off the buffer (bounds guard on the TLV loop)
    val noEnd = zstd.clone()
    val bodyStart = payloadOff + 19
    val bodyEndNC = payloadOff + evSize - 4
    // tile the body with well-formed ftype=1 fields (ignored by the
    // decoder) so the loop consumes the WHOLE body without an end mark:
    // 3-byte group [type=1, len=1, lenenc 0x00]; 5-byte group
    // [type=1, len=3, lenenc 0xFC 0x00 0x00] absorbs len%3 remainders
    val bodyLen = bodyEndNC - bodyStart
    val n5 = bodyLen % 3 match { case 1 => 2; case 2 => 1; case _ => 0 }
    var w = bodyStart
    var g5 = 0
    while (g5 < n5) {
      noEnd(w) = 1; noEnd(w + 1) = 3; noEnd(w + 2) = 0xFC.toByte
      noEnd(w + 3) = 0; noEnd(w + 4) = 0
      w += 5; g5 += 1
    }
    while (w < bodyEndNC) { noEnd(w) = 1; noEnd(w + 1) = 1; noEnd(w + 2) = 0; w += 3 }
    val crc2 = new java.util.zip.CRC32
    crc2.update(noEnd, payloadOff, evSize - 4)
    var k2 = 0
    while (k2 < 4) {
      noEnd(payloadOff + evSize - 4 + k2) =
        ((crc2.getValue >> (8 * k2)) & 0xFF).toByte
      k2 += 1
    }
    val e2 = intercept[IllegalArgumentException] {
      BinlogBinary.parseBytes("f", noEnd)
    }
    assert(e2.getMessage.contains("end mark missing"), e2.getMessage)
  }

  test("partial JSON update: diff stream decodes identically to its full-image twin") {
    import BinlogBinaryFixture._
    val beforeDoc = JObj(Seq(
      "user" -> JObj(Seq("id" -> JInt(42), "name" -> JStr("a\"b"),
        "meta" -> JObj(Seq("ver" -> JInt(1))))),
      "tags" -> JArr(Seq(JStr("x"), JInt(-7), JBool(true), JNull)),
      "odd key.[x]" -> JStr("quoted-path member"),
      "score" -> JDbl(2.5)))
    // six diffs exercising every op × container kind, incl. a quoted
    // path leg and an array append past the end
    val diffs = Seq[(Int, String, Option[J])](
      (0, "$.user.name", Some(JStr("renamed"))), // REPLACE nested member
      (0, "$.tags[1]", Some(JInt(99))), // REPLACE array element
      (1, "$.user.active", Some(JBool(true))), // INSERT new member
      (1, "$.tags[2]", Some(JArr(Seq(JInt(1), JInt(2))))), // INSERT mid-array
      (1, "$.tags[99]", Some(JStr("appended"))), // INSERT past end = append
      (2, "$.user.meta", None), // REMOVE member
      (2, "$.tags[0]", None), // REMOVE array element
      (0, "$.\"odd key.[x]\"", Some(JStr("via quoted leg")))) // quoted path
    val afterDoc = JObj(Seq(
      "user" -> JObj(Seq("id" -> JInt(42), "name" -> JStr("renamed"),
        "active" -> JBool(true))),
      "tags" -> JArr(Seq(JInt(99), JArr(Seq(JInt(1), JInt(2))), JBool(true),
        JNull, JStr("appended"))),
      "odd key.[x]" -> JStr("via quoted leg"),
      "score" -> JDbl(2.5)))
    val before = WideRow(5, ch = Some("pre"), js = Some(beforeDoc))
    val after = WideRow(5, ch = Some("post"), js = Some(afterDoc))
    val partial = Seq(Gtid(31), Begin,
      WidePartialUpdate(before, diffs, after), Xid(31))
    val fullTwin = Seq(Gtid(31), Begin, WideUpdate(before, after), Xid(31))
    val fromPartial = BinlogBinary.parseBytes("f", render(partial)._1)
    val fromFull = BinlogBinary.parseBytes("f", render(fullTwin)._1)
    def canon(r: graft.cdc.RawChange) =
      (r.seq, r.db, r.table, r.op, r.beforeOrds.toSeq, r.beforeVals.toSeq,
        r.afterOrds.toSeq, r.afterVals.toSeq, r.gtid)
    assert(fromPartial.size == 1)
    assert(fromPartial.map(canon) == fromFull.map(canon))
    // non-JSON columns in the same image decode around the diff slot
    assert(fromPartial.head.afterVals(1) == "'post'")
    // the partial stream also survives the ZSTD transaction wrapper
    // (inner replay shares the decoder)
    val fromZstd = BinlogBinary.parseBytes("f",
      compressTransactions(render(partial)._1))
    assert(fromZstd.map(canon) == fromFull.map(canon))
    // flashback renders the INVERSE update from the applied images —
    // byte-identical to flashing back the full-image twin (partial
    // streams must be invertible like any other)
    def flashSql(bin: Array[Byte]): Seq[String] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_pj")
      java.nio.file.Files.write(tmp.resolve("binlog.000001"), bin)
      BinlogBinary.run(spark, tmp.toString, Catalog.fixture(spark),
        CdcConfig(flashback = true))
        .select("sql").collect().map(_.getString(0)).toSeq
        // the pos-comment line differs by the events' byte sizes
        // (a diff is smaller than its document); the SQL must not
        .map(_.linesIterator.filterNot(_.startsWith("#")).mkString("\n"))
    }
    assert(flashSql(render(partial)._1) == flashSql(render(fullTwin)._1))
    // a diff that does not apply fails LOUDLY, never silently
    val badDiff = Seq[(Int, String, Option[J])](
      (0, "$.nosuch.member", Some(JInt(1))))
    val bad = Seq(Gtid(32), Begin,
      WidePartialUpdate(before, badDiff, after), Xid(32))
    val e = intercept[IllegalArgumentException] {
      BinlogBinary.parseBytes("f", render(bad)._1)
    }
    assert(e.getMessage.contains("nosuch") || e.getMessage.contains("member"),
      e.getMessage)
  }

  test("rows_query passthrough: captured on both paths, statement-scoped, comment-rendered") {
    import BinlogBinaryFixture._
    val evs = Seq(
      Gtid(21), Begin,
      RowsQuery("insert into t_pk values (1, 'alpha', 1.5)"),
      Insert(1, "alpha", Some(1.5)),
      RowsQuery("update t_pk\n   set name = 'beta'\n where id = 1"),
      Update((1, "alpha", Some(1.5)), (1, "beta", None)),
      Xid(21),
      Gtid(22), Begin,
      Insert(2, "noquery", None), // rows_query OFF for this statement
      Xid(22))
    val (bin, text) = render(evs)
    val fromBin = BinlogBinary.parseBytes("f", bin)
    val fromText = BinlogFsm.parse("f", text.linesIterator).toSeq
    assert(fromBin.size == 3 && fromText.size == 3)
    val wantQ = Seq(
      Some("insert into t_pk values (1, 'alpha', 1.5)"),
      Some("update t_pk\n   set name = 'beta'\n where id = 1"),
      None) // the scope ends with its statement's rows event
    assert(fromBin.map(r => Option(r.query)) == wantQ)
    assert(fromText.map(r => Option(r.query)) == wantQ)
    // every other field still matches across the two decoders
    def canon(r: graft.cdc.RawChange) =
      (r.seq, r.startPos, r.db, r.table, r.op, r.beforeVals.toSeq,
        r.afterVals.toSeq, r.gtid, Option(r.query))
    assert(fromBin.map(canon) == fromText.map(canon))
    // rendered SQL carries the provenance comment, multi-line safe
    val tmp = java.nio.file.Files.createTempDirectory("graft_rq")
    java.nio.file.Files.write(tmp.resolve("binlog.000001"), bin)
    val cat = Catalog.fixture(spark)
    val sqls = BinlogBinary.run(spark, tmp.toString, cat, CdcConfig())
      .select("sql").collect().map(_.getString(0)).toSeq
    assert(sqls.size == 3)
    assert(sqls(0).contains("\n# rows_query: insert into t_pk values (1, 'alpha', 1.5)"))
    assert(sqls(1).contains(
      "\n# rows_query: update t_pk\n#    set name = 'beta'\n#  where id = 1"))
    assert(!sqls(2).contains("rows_query"))
    // every non-comment line is the rendered statement — the script
    // stays executable even with a multi-line original statement
    assert(sqls(1).linesIterator.forall(l =>
      l.startsWith("#") || l.startsWith("UPDATE")))
    // and with no rows_query events at all, output bytes are unchanged
    // vs a stream that never had them (c1/c2 hash stability)
    val evsNoRq = evs.filterNot(_.isInstanceOf[RowsQuery])
    val (bin2, _) = render(evsNoRq)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_rq2")
    java.nio.file.Files.write(tmp2.resolve("binlog.000001"), bin2)
    val sqls2 = BinlogBinary.run(spark, tmp2.toString, cat, CdcConfig())
      .select("sql").collect().map(_.getString(0)).toSeq
    def stripPos(s: String) = s.linesIterator.filterNot(_.startsWith("#")).mkString("\n")
    assert(sqls.map(stripPos) == sqls2.map(stripPos))
  }
}
