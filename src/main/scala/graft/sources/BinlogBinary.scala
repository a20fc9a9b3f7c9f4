package graft.sources

import graft.cdc.{CdcJob, RawChange}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Binary MySQL binlog reader (format v4) — removes the engine's one
  * external dependency: the reference shells out to `mysqlbinlog -vv`
  * for the decode (/root/reference/main.py:90,103) and parses its TEXT;
  * this source decodes the row events straight from the `.binlog`
  * bytes and emits the same `RawChange` stream as `cdc.BinlogFsm`
  * (same positions, header datetimes, verbatim SQL-literal images), so
  * everything downstream — filters, catalog join, SQL render,
  * flashback — is shared.
  *
  * Wire format per the public MySQL replication protocol docs
  * (binary-log-versions / rows-event pages):
  *   magic 0xFE 'b' 'i' 'n'; 19-byte common header
  *   (timestamp u32, type u8, server_id u32, event_size u32,
  *   log_pos u32, flags u16); FORMAT_DESCRIPTION (15) carries a
  *   trailing checksum-algorithm byte (5.6+) — when 1, every event
  *   ends with CRC32 which is stripped before payload parsing;
  *   TABLE_MAP (19) maps table_id → (db, table, column types + meta);
  *   WRITE/UPDATE/DELETE_ROWS v2 (30/31/32) carry bitmapped row
  *   images; QUERY (2) carries DDL with its schema context.
  *
  * Column types: the integer family TINY(1)/SHORT(2)/INT24(9)/
  * LONG(3)/LONGLONG(8), all signed; FLOAT(4) f32 / DOUBLE(5) f64; the
  * full string family — VARCHAR(15)/VAR_STRING(253) and CHAR (on-wire
  * STRING 254, incl. the >255-byte split-metadata form) length-
  * prefixed, BLOB/TEXT(252) in all four prefix widths — plus
  * ENUM(247)/SET(248) (real types carried in STRING metadata),
  * BIT(16); the temporal family DATE(10), YEAR(13), and the 5.6.4+
  * packed forms TIMESTAMP2(17)/DATETIME2(18)/TIME2(19) with
  * fractional seconds per the TABLE_MAP's fsp metadata (odd fsp
  * stores a spare trailing digit that is divided back out);
  * NEWDECIMAL(246) packed base-10^9 decimals; JSON(245) binary
  * documents decoded to text by [[JsonBinary]]. Values render as
  * `mysqlbinlog -vv` literals (ints/epochs/years/decimals/ENUM
  * indexes bare, BIT/SET as `b'…'`, strings `my_b_write_quoted`-
  * escaped, datetimes/times quoted, `NULL` bare, floats/doubles
  * shortest-decimal, DATE with mysqlbinlog's colon-separated
  * `'YYYY:MM:DD'` quirk — log_event.cc's log_event_print_value) so
  * images are byte-identical to the text path's verbatim capture.
  *
  * Totality matches the text FSM: a truncated trailing event is
  * discarded, unknown event types are skipped.
  */
object BinlogBinary {

  private val QUERY = 2
  private val FORMAT_DESC = 15
  private val TABLE_MAP = 19
  private val WRITE_V1 = 23
  private val UPDATE_V1 = 24
  private val DELETE_V1 = 25
  private val ROWS_QUERY = 29
  private val WRITE_V2 = 30
  private val UPDATE_V2 = 31
  private val DELETE_V2 = 32
  private val GTID = 33
  private val ANONYMOUS_GTID = 34
  private val PREVIOUS_GTIDS = 35
  private val PARTIAL_UPDATE = 39
  private val TRANSACTION_PAYLOAD = 40

  private val DdlFirstWords = Set("create", "rename", "alter", "drop", "truncate")

  private final case class TableDef(db: String, table: String,
      types: Array[Int], meta: Array[Int])

  private final class Cursor(val b: Array[Byte], var off: Int) {
    def u8(): Int = { val v = b(off) & 0xFF; off += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = (u16().toLong | (u16().toLong << 16)) & 0xFFFFFFFFL
    def u48(): Long = u32() | (u16().toLong << 32)
    def i32(): Int = u32().toInt
    def f64(): Double = {
      var bits = 0L
      var i = 0
      while (i < 8) { bits |= (b(off + i) & 0xFFL) << (8 * i); i += 1 }
      off += 8
      java.lang.Double.longBitsToDouble(bits)
    }
    def bytes(n: Int): Array[Byte] = {
      val r = java.util.Arrays.copyOfRange(b, off, off + n); off += n; r
    }
    /** Big-endian unsigned read of n ≤ 7 bytes — the 5.6.4+ packed
      * temporal formats (DATETIME2/TIMESTAMP2 + fractional-second
      * tails) are the protocol's only big-endian fields, chosen so
      * memcmp order equals temporal order for index prefix use. */
    def beN(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (b(off + i) & 0xFFL); i += 1 }
      off += n
      v
    }
    def lenenc(): Long = {
      val first = u8()
      if (first < 0xFB) first
      else if (first == 0xFC) u16()
      else if (first == 0xFD) u8() | (u8() << 8) | (u8() << 16)
      else if (first == 0xFE) { val v = u32(); v | (u32() << 32) }
      // 0xFB is the NULL marker and 0xFF the error byte in the
      // length-encoded-integer scheme: neither is a valid length
      // prefix here — fail fast instead of misdecoding the stream
      else throw new IllegalArgumentException(
        f"invalid length-encoded integer prefix 0x$first%02X")
    }
    def str(n: Int): String = new String(bytes(n), "UTF-8")
  }

  /** Fractional-second tail of a packed temporal value: the server
    * stores 2·⌈fsp/2⌉ digits in ⌈fsp/2⌉ big-endian bytes, so an ODD
    * fsp carries one spare trailing digit (always 0 — values are
    * truncated to fsp digits before storage) that mysqlbinlog divides
    * back out before printing exactly fsp digits (my_datetime_to_str's
    * `sec_part / log_10_int[6 - dec]` scaling). Rendered `.d…d`
    * zero-padded to fsp; empty at fsp 0. */
  private def fracStr(cur: Cursor, fsp: Int): String =
    if (fsp == 0) ""
    else {
      val stored = cur.beN((fsp + 1) / 2)
      val v = if (fsp % 2 == 1) stored / 10 else stored
      "." + ("%0" + fsp + "d").format(v)
    }

  /** mysqlbinlog's `my_b_write_quoted` (log_event.cc): every string
    * family (CHAR/VARCHAR/VAR_STRING/BLOB/TEXT) prints single-quoted
    * with bytes > 0x1F passed through raw — multi-byte UTF-8 sequences
    * survive byte-for-byte — and control bytes, the quote, and the
    * backslash as `\xNN`. Escaping control bytes is also what keeps
    * every literal on ONE text line for the line-oriented FSM path. */
  private def quoted(bs: Array[Byte]): String = {
    val out = new java.io.ByteArrayOutputStream(bs.length + 2)
    out.write('\'')
    var i = 0
    while (i < bs.length) {
      val b = bs(i) & 0xFF
      if (b > 0x1F && b != '\'' && b != '\\') out.write(b)
      else { out.write('\\'); out.write('x')
        out.write(Character.forDigit(b >> 4, 16))
        out.write(Character.forDigit(b & 0xF, 16)) }
      i += 1
    }
    out.write('\'')
    new String(out.toByteArray, "UTF-8")
  }

  /** mysqlbinlog's `my_b_write_bit`: BIT and SET values print as
    * `b'…'` — `nbits` bits of the storage bytes in byte order, MSB
    * first, skipping the leading pad bits of a partial first byte. */
  private def bitLiteral(bs: Array[Byte], nbits: Int): String = {
    val sb = new StringBuilder(nbits + 3)
    sb.append("b'")
    val nbits8 = bs.length * 8
    var bit = nbits8 - nbits
    while (bit < nbits8) {
      sb.append(if (((bs(bit / 8) >> (7 - bit % 8)) & 1) != 0) '1' else '0')
      bit += 1
    }
    sb.append('\'').result()
  }

  /** TIME2 (5.6.4+ packed TIME): the (3 + ⌈fsp/2⌉) big-endian bytes
    * are one sign-offset integer `2^(bits−1) + V` where
    * `V = ±(hms·2^(8·fb) + frac-units)`, hms packing hour:10 | min:6 |
    * sec:6. This single-integer view is algebraically identical to
    * MySQL's two-field decode with its negative-fraction borrow
    * (my_time_packed_from_binary's `intpart++; frac -= 0x100`).
    * Odd fsp stores one spare trailing digit like DATETIME2. Rendered
    * as mysqlbinlog does: `'[-]HH:MM:SS[.ffff]'` (hour up to 838,
    * two-digit minimum). */
  private def time2(cur: Cursor, fsp: Int): String = {
    val fb = (fsp + 1) / 2
    val v = cur.beN(3 + fb) - (1L << (8 * (3 + fb) - 1))
    val sign = if (v < 0) "-" else ""
    val a = math.abs(v)
    val fu0 = if (fb == 0) 0L else a & ((1L << (8 * fb)) - 1)
    val hms = a >> (8 * fb)
    val fu = if (fsp % 2 == 1) fu0 / 10 else fu0
    val frac = if (fsp == 0) "" else "." + ("%0" + fsp + "d").format(fu)
    f"'$sign%s${(hms >> 12) & 0x3FF}%02d:${(hms >> 6) & 0x3F}%02d:${hms & 0x3F}%02d$frac%s'"
  }

  /** Bytes occupied by n ≤ 9 leading/trailing decimal digits of a
    * NEWDECIMAL group (the protocol's dig2bytes table). */
  private val Dig2Bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

  /** NEWDECIMAL(precision, scale): base-10^9 groups, 4 bytes per full
    * 9-digit group big-endian with partial lead/tail groups in
    * `Dig2Bytes` bytes; sign carried in the first byte's high bit
    * (set = non-negative) with negative values stored as the
    * one's-complement of the positive image. Rendered bare with
    * exactly `scale` fractional digits — decimal2string's output
    * shape, which is what mysqlbinlog -vv prints. */
  /** Storage bytes of a NEWDECIMAL(precision, scale) image. Shared
    * with [[JsonBinary]]'s opaque-decimal decode. */
  private[sources] def decimalBinSize(precision: Int, scale: Int): Int = {
    val intg = precision - scale
    (intg / 9) * 4 + Dig2Bytes(intg % 9) +
      (scale / 9) * 4 + Dig2Bytes(scale % 9)
  }

  private def newDecimal(cur: Cursor, precision: Int, scale: Int): String =
    decimalToString(cur.bytes(decimalBinSize(precision, scale)),
      precision, scale)

  /** decimal2string over a (consumed, mutable) binary image — see
    * [[newDecimal]]'s format notes. Shared with [[JsonBinary]]. */
  private[sources] def decimalToString(raw: Array[Byte], precision: Int,
      scale: Int): String = {
    val intg = precision - scale
    val size = raw.length
    val positive = (raw(0) & 0x80) != 0
    raw(0) = (raw(0) ^ 0x80).toByte
    if (!positive) { var i = 0; while (i < size) { raw(i) = (~raw(i)).toByte; i += 1 } }
    var p = 0
    def group(nDigits: Int): Long = {
      val nb = Dig2Bytes(nDigits)
      var v = 0L
      var i = 0
      while (i < nb) { v = (v << 8) | (raw(p + i) & 0xFFL); i += 1 }
      p += nb
      v
    }
    val sb = new StringBuilder
    if (intg % 9 != 0) sb.append(group(intg % 9).toString)
    for (_ <- 0 until intg / 9) {
      val g = group(9)
      sb.append(if (sb.isEmpty) g.toString else "%09d".format(g))
    }
    // strip leading zeros of the integer part (keep one digit)
    val ip0 = sb.toString.dropWhile(_ == '0')
    val ip = if (ip0.isEmpty) "0" else ip0
    val fb = new StringBuilder
    for (_ <- 0 until scale / 9) fb.append("%09d".format(group(9)))
    if (scale % 9 != 0)
      fb.append(("%0" + (scale % 9) + "d").format(group(scale % 9)))
    (if (positive) "" else "-") + ip + (if (scale > 0) "." + fb else "")
  }

  /** The binlog magic 0xFE 'b' 'i' 'n' — the one test that tells a raw
    * `.binlog` file from `mysqlbinlog -vv` text (decode guard, GTID
    * header read, `--format auto`). */
  def hasMagic(head: Array[Byte]): Boolean =
    head.length >= 4 && head(0) == 0xFE.toByte && head(1) == 'b' &&
      head(2) == 'i' && head(3) == 'n'

  /** `--format auto`: does the first file under `path` (a file, or a
    * rotated directory probed by its name-first file — binlog
    * directories are homogeneous by contract) open with the magic?
    * Reads 4 bytes of one file through the Hadoop filesystem. */
  def isBinlog(spark: SparkSession, path: String): Boolean =
    graft.cdc.GtidPrune.listFiles(spark, path).headOption
      .exists(f => hasMagic(graft.cdc.GtidPrune.readHead(spark, f, 4)))

  /** Header-only read of a file's PREVIOUS_GTIDS_LOG_EVENT (type 35):
    * the GTID set executed BEFORE this file, which MySQL writes right
    * after the FDE on every 5.6+ binlog. Walks only the leading
    * framing events (FDE → Previous-GTIDs) and never decodes a row
    * payload — a few KB of IO per file, the basis of GtidPrune's
    * file-skip index. Payload layout (public replication format):
    * n_sids u64, then per sid 16-byte uuid + n_intervals u64 +
    * (start u64, end u64) pairs with EXCLUSIVE ends. Returns None when
    * the header is absent or malformed — callers must then treat the
    * file's content as unknown and scan it normally. */
  def headerPrevGtids(bytes: Array[Byte]): Option[graft.cdc.GtidSet.Set] = try {
    if (!hasMagic(bytes)) return None
    var off = 4
    var checksumLen = 0
    var scanned = 0
    while (off + 19 <= bytes.length && scanned < 8) {
      val c = new Cursor(bytes, off)
      c.u32() // ts
      val etype = c.u8()
      c.u32() // server_id
      val eventSize = c.u32().toInt
      c.u32(); c.u16() // log_pos, flags
      if (eventSize < 19 || off + eventSize > bytes.length) return None
      if (etype == FORMAT_DESC) {
        // same 5.6.1+ checksum-algorithm sniff as parseBytes
        val verEnd = math.min(off + 19 + 2 + 50, bytes.length)
        val verRaw = new String(bytes, off + 19 + 2, verEnd - (off + 19 + 2), "UTF-8")
        val nums = verRaw.takeWhile(ch => ch.isDigit || ch == '.')
          .split('.').filter(_.nonEmpty).take(3).map(_.toInt)
        val atLeast561 = nums.length >= 3 &&
          (nums(0) > 5 || (nums(0) == 5 && (nums(1) > 6 ||
            (nums(1) == 6 && nums(2) >= 1))))
        val alg = bytes(off + eventSize - 5) & 0xFF
        checksumLen = if (atLeast561 && alg == 1) 4 else 0
      } else if (etype == PREVIOUS_GTIDS) {
        def u64() = c.u32() | (c.u32() << 32)
        val payloadEnd = off + eventSize - checksumLen
        val nSids = u64()
        val acc = scala.collection.mutable.Map.empty[String, Vector[(Long, Long)]]
        var s = 0L
        while (s < nSids) {
          val hex = c.bytes(16).map(b => f"${b & 0xFF}%02x").mkString
          val uuid = s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-" +
            s"${hex.substring(12, 16)}-${hex.substring(16, 20)}-" +
            s"${hex.substring(20)}"
          val nIvl = u64()
          var k = 0L
          while (k < nIvl) {
            val lo = u64(); val hiEx = u64() // end is exclusive
            if (c.off > payloadEnd) return None
            acc(uuid) = acc.getOrElse(uuid, Vector.empty) :+ ((lo, hiEx - 1))
            k += 1
          }
          s += 1
        }
        return Some(acc.toMap)
      } else if (etype != TABLE_MAP && etype != 4 /* ROTATE */ &&
          etype != 3 /* STOP */) {
        // data events begin (GTID/QUERY/rows): MySQL always writes
        // PREVIOUS_GTIDS before any of these — none coming
        return None
      }
      off += eventSize; scanned += 1
    }
    None
  } catch { case _: ArrayIndexOutOfBoundsException |
                 _: StringIndexOutOfBoundsException => None }

  /** Decode one binlog file's bytes into change events. Eager per
    * file (a rotated binlog file is bounded by rotate size — the
    * task already holds the bytes).
    *
    * `zone` is the zone used to render header datetimes (and thus what
    * `--start/stop-datetime` filters compare against). Real
    * `mysqlbinlog` prints the SERVER's local time; the text path
    * captures that output verbatim, so to match it on a non-UTC server
    * pass that server's zone here (the batch and stream readers both
    * wire the Spark session time zone, which defaults to UTC in this
    * engine).
    *
    * @param ddlOnly skip rows-event body decode entirely (the
    *   dominant volume), emitting only DDL events — the schema-
    *   evolution timeline parse of GTID-pruned files (the text FSM's
    *   ddlOnly twin). Compressed transaction payloads still replay
    *   (they can carry DDL); their rows skip the same way. */
  def parseBytes(file: String, bytes: Array[Byte],
      includeDdl: Boolean = false,
      zone: java.time.ZoneId = java.time.ZoneOffset.UTC,
      ddlOnly: Boolean = false): Seq[RawChange] = {
    val out = mutable.ArrayBuffer.empty[RawChange]
    if (!hasMagic(bytes)) return out.toSeq
    var checksumLen = 0
    var seq = 0L
    // GTID framing: the last GTID_LOG_EVENT's uuid:gno, carried onto
    // every row/DDL event until the next one (transaction scope)
    var curGtid = ""
    // ROWS_QUERY_LOG_EVENT capture (binlog_rows_query_log_events=ON):
    // the original statement text, carried onto the row events that
    // follow and cleared at the statement's closing rows event
    // (STMT_END_F) — the same scope mysqlbinlog prints it under
    var curQuery: String = null
    val tables = mutable.Map.empty[Long, TableDef]

    // `mysqlbinlog` header-comment datetime (yyMMdd %2d:%02d:%02d) in
    // `zone`, with the raw spacing the text FSM captures verbatim.
    def dtRawOf(epoch: Long): String = {
      val t = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(epoch), zone)
      f"${t.getYear % 100}%02d${t.getMonthValue}%02d${t.getDayOfMonth}%02d " +
        f"${t.getHour}%2d:${t.getMinute}%02d:${t.getSecond}%02d "
    }

    /** Decode the event stream in `buf[from, until)`.
      *
      * `top = true` is the file stream: CRC-framed per the FDE,
      * truncation-tolerant (a cut trailing event is discarded).
      * `top = false` replays the DECOMPRESSED body of a
      * Transaction_payload_event: inner events carry no per-event
      * checksums (the server strips them before compressing —
      * binlog_transaction_compression docs), and truncation there is
      * corruption (the outer CRC already vouched for the bytes), so it
      * throws instead of discarding. `posOver` pins every inner
      * event's positions to the CONTAINING payload event — the inner
      * headers' log_pos fields describe the uncompressed stream the
      * server never wrote, so the payload's file offset is the only
      * position that means anything in THIS file. */
    def decodeEvents(buf: Array[Byte], from: Int, until: Int, top: Boolean,
        posOver: Option[(Long, Long, String, String)]): Unit = {
    var off = from
    while (off + 19 <= until) {
      val c = new Cursor(buf, off)
      val ts = c.u32()
      val etype = c.u8()
      c.u32() // server_id
      val eventSize = c.u32().toInt
      val logPos = c.u32()
      c.u16() // flags
      if (eventSize < 19 || off + eventSize > until) {
        if (top) off = until // truncated tail: discard, stay total
        else throw new IllegalArgumentException(
          s"truncated event inside a Transaction_payload body of $file " +
            s"(inner offset $off, type $etype, size $eventSize): the " +
            "compressed payload is corrupt")
      } else {
        if (top && etype == FORMAT_DESC) {
          // The trailing checksum-algorithm byte (alg + the FDE's own
          // CRC32, 5 bytes from the event end) only exists on 5.6.1+
          // servers; on older binlogs the byte at end-5 is a
          // post-header-length entry, so gate on the FDE's 50-byte
          // server-version string before trusting it.
          val verEnd = math.min(off + 19 + 2 + 50, until)
          val verRaw = new String(buf, off + 19 + 2, verEnd - (off + 19 + 2), "UTF-8")
          // server versions lead with X.Y.Z ("5.7.30-log"); anything
          // else parses as 0.0.0 and keeps checksums off
          val nums = verRaw.takeWhile(ch => ch.isDigit || ch == '.')
            .split('.').filter(_.nonEmpty).take(3).map(_.toInt)
          val atLeast561 = nums.length >= 3 &&
            (nums(0) > 5 || (nums(0) == 5 && (nums(1) > 6 ||
              (nums(1) == 6 && nums(2) >= 1))))
          val alg = buf(off + eventSize - 5) & 0xFF
          checksumLen = if (atLeast561 && alg == 1) 4 else 0
        }
        // INTEGRITY: when the stream declares CRC32 framing, verify
        // every event (the FDE included — checksumLen was just set
        // from its own bytes) BEFORE decoding its body. A flipped bit
        // anywhere in a 100 TB log then surfaces as a diagnosable
        // per-file error with an offset, never as silently garbled
        // SQL or a raw bounds exception from the body decoder.
        // mysqlbinlog verifies the same way; the CRC covers
        // [event start, event end − 4), little-endian stored.
        // Inner (decompressed) events are never CRC-framed.
        if (top && checksumLen == 4) {
          val crc = new java.util.zip.CRC32
          crc.update(buf, off, eventSize - 4)
          val p = off + eventSize - 4
          val stored = (buf(p) & 0xFFL) | ((buf(p + 1) & 0xFFL) << 8) |
            ((buf(p + 2) & 0xFFL) << 16) | ((buf(p + 3) & 0xFFL) << 24)
          if (crc.getValue != stored)
            throw new IllegalArgumentException(
              f"CRC32 mismatch in $file at offset $off (event type $etype, " +
                f"size $eventSize): corrupt binlog — expected 0x${stored}%08X, " +
                f"computed 0x${crc.getValue}%08X")
        }
        val bodyEnd = off + eventSize -
          (if (!top || etype == FORMAT_DESC) 0 else checksumLen)
        val (startPos, startPosRaw, stopPosRaw) = posOver match {
          case Some((sp, lp, spr, lpr)) => (sp, spr, lpr)
          case None => (off.toLong, s" $off", s" $logPos ")
        }
        val dtRaw = dtRawOf(ts)

        def literal(td: TableDef, ci: Int, cur: Cursor,
            jsonSink: (Int, Array[Byte]) => Unit = null): String =
          td.types(ci) match {
            case 1 => cur.u8().toByte.toString // TINY (signed)
            case 2 => cur.u16().toShort.toString // SHORT (signed)
            case 9 => // INT24: sign-extend 3 LE bytes
              val v = cur.u8() | (cur.u8() << 8) | (cur.u8() << 16)
              ((v << 8) >> 8).toString
            case 3 => cur.i32().toString // LONG
            case 8 => // LONGLONG (signed 64)
              (cur.u32() | (cur.u32() << 32)).toString
            case 5 =>
              // %.12g-style: integral doubles print bare (mysqlbinlog),
              // fractional ones shortest-decimal
              val d = cur.f64()
              if (d == d.toLong.toDouble) d.toLong.toString else d.toString
            case 15 | 253 | 254 =>
              // VARCHAR / VAR_STRING / CHAR: the length prefix is one
              // byte iff the declared max BYTE length fits one (CHAR's
              // real type + >255 length split was normalized into
              // types/meta at TABLE_MAP decode)
              val n = if (td.meta(ci) < 256) cur.u8() else cur.u16()
              quoted(cur.bytes(n))
            case 247 => // ENUM: mysqlbinlog prints the bare index
              (if (td.meta(ci) == 1) cur.u8() else cur.u16()).toString
            case 248 => // SET: pack-length-byte bitmap printed b'…'
              bitLiteral(cur.bytes(td.meta(ci)), td.meta(ci) * 8)
            case 252 =>
              // BLOB/TEXT family: meta = length-prefix width (TINY 1,
              // regular 2, MEDIUM 3, LONG 4), then the raw bytes
              val n = (td.meta(ci) match {
                case 1 => cur.u8().toLong
                case 2 => cur.u16().toLong
                case 3 => (cur.u8() | (cur.u8() << 8) | (cur.u8() << 16)).toLong
                case _ => cur.u32()
              }).toInt
              quoted(cur.bytes(n))
            case 16 => // BIT: meta = bit_len | bytes_in_rec<<8, BE bytes
              val nbits = (td.meta(ci) >> 8) * 8 + (td.meta(ci) & 0xFF)
              bitLiteral(cur.bytes((nbits + 7) / 8), nbits)
            case 19 => time2(cur, td.meta(ci)) // TIME2, meta = fsp
            case 245 =>
              // JSON: meta-byte-wide LE length + binary JSON document,
              // decoded to its text form (MySQL 8.0 mysqlbinlog parses
              // and prints the document; 5.7 dumped raw bytes) and
              // quoted like the other string families so embedded
              // quotes/control bytes stay escaped and single-line
              val n = (0 until td.meta(ci)).map(i => cur.u8().toLong << (8 * i)).sum.toInt
              val doc = cur.bytes(n)
              if (jsonSink != null) jsonSink(ci, doc)
              quoted(JsonBinary.toText(doc).getBytes("UTF-8"))
            case 4 =>
              // FLOAT: decode at FLOAT precision (shortest-decimal of
              // the f32, not of its f64 widening), integral bare
              val f = java.lang.Float.intBitsToFloat(cur.i32())
              if (f == f.toLong.toFloat) f.toLong.toString else f.toString
            case 10 => // DATE, 3 LE bytes: day:5 | month:4 | year:15.
              // mysqlbinlog prints dates COLON-separated ('2024:03:15')
              // — log_event_print_value's long-standing quirk, kept for
              // byte parity with the text path.
              val v = cur.u8() | (cur.u8() << 8) | (cur.u8() << 16)
              f"'${v >> 9}%04d:${(v >> 5) & 0xF}%02d:${v & 0x1F}%02d'"
            case 13 => // YEAR: u8 offset from 1900; raw 0 is SQL's 0000
              val v = cur.u8()
              if (v == 0) "0000" else (1900 + v).toString
            case 17 => // TIMESTAMP2: BE u32 epoch seconds + fsp frac.
              // mysqlbinlog prints the raw epoch (bare), with the
              // fractional digits appended when fsp > 0.
              val secs = cur.beN(4)
              secs.toString + fracStr(cur, td.meta(ci))
            case 18 => // DATETIME2: 5 BE bytes + fsp frac (see beN doc)
              val v = cur.beN(5)
              val ym = ((v >> 22) & 0x1FFFF).toInt
              f"'${ym / 13}%04d-${ym % 13}%02d-${(v >> 17) & 0x1F}%02d " +
                f"${(v >> 12) & 0x1F}%02d:${(v >> 6) & 0x3F}%02d:${v & 0x3F}%02d" +
                fracStr(cur, td.meta(ci)) + "'"
            case 246 => newDecimal(cur, td.meta(ci) >> 8, td.meta(ci) & 0xFF)
            case t => throw new IllegalArgumentException(s"unsupported column type $t")
          }

        // one row image under an included-columns bitmap
        def image(td: TableDef, included: Array[Boolean], cur: Cursor,
            jsonSink: (Int, Array[Byte]) => Unit = null):
            (Array[Int], Array[String]) = {
          val idx = included.indices.filter(included).toArray
          val nullBm = cur.bytes((idx.length + 7) / 8)
          val ords = new Array[Int](idx.length)
          val vals = new Array[String](idx.length)
          var k = 0
          while (k < idx.length) {
            ords(k) = idx(k) + 1 // @N ordinals are 1-based
            vals(k) =
              if ((nullBm(k / 8) & (1 << (k % 8))) != 0) "NULL"
              else literal(td, idx(k), cur, jsonSink)
            k += 1
          }
          (ords, vals)
        }

        // PARTIAL_UPDATE_ROWS_EVENT after image: value_options, then
        // (when PARTIAL_JSON is set) one partial bit per JSON column
        // in the image, then the standard null bitmap + values where a
        // partial JSON column carries a diff sequence instead of a
        // document — applied here against the before image so the
        // emitted event is a COMPLETE row image (sql/json_diff.h,
        // WL#2955; mysqlbinlog prints the same columns as JSON_
        // function expressions, but the engine's contract is
        // materialized images — state folds and flashback need the
        // full after value, not a print artifact).
        def imagePartial(td: TableDef, included: Array[Boolean],
            cur: Cursor, beforeJson: scala.collection.Map[Int, Array[Byte]]):
            (Array[Int], Array[String]) = {
          val idx = included.indices.filter(included).toArray
          val valueOptions = cur.lenenc()
          val partialJson = (valueOptions & 1L) != 0
          val jsonIdx = idx.filter(i => td.types(i) == 245)
          val partialBit: Map[Int, Boolean] =
            if (partialJson && jsonIdx.nonEmpty)
              jsonIdx.zip(bitmap(cur, jsonIdx.length)).toMap
            else jsonIdx.map(_ -> false).toMap
          val nullBm = cur.bytes((idx.length + 7) / 8)
          val ords = new Array[Int](idx.length)
          val vals = new Array[String](idx.length)
          var k = 0
          while (k < idx.length) {
            val ci = idx(k)
            ords(k) = ci + 1
            vals(k) =
              if ((nullBm(k / 8) & (1 << (k % 8))) != 0) "NULL"
              else if (td.types(ci) == 245 && partialBit(ci)) {
                val totalLen = cur.lenenc().toInt
                val end = cur.off + totalLen
                var doc = JsonBinary.parseNode(beforeJson.getOrElse(ci,
                  throw new IllegalArgumentException(
                    s"partial JSON diff for column ${ci + 1} with no " +
                      "before-image document")))
                while (cur.off < end) {
                  val op = cur.u8()
                  val path = new String(cur.bytes(cur.lenenc().toInt), "UTF-8")
                  val v =
                    if (op != JsonDiff.Remove)
                      Some(JsonBinary.parseNode(cur.bytes(cur.lenenc().toInt)))
                    else None
                  doc = JsonDiff.apply(doc, op, path, v)
                }
                if (cur.off != end) throw new IllegalArgumentException(
                  s"partial JSON diff for column ${ci + 1} overran its " +
                    s"declared length by ${cur.off - end}")
                quoted(JsonBinary.renderNode(doc).getBytes("UTF-8"))
              } else literal(td, ci, cur)
            k += 1
          }
          (ords, vals)
        }

        def bitmap(cur: Cursor, n: Int): Array[Boolean] = {
          val bm = cur.bytes((n + 7) / 8)
          Array.tabulate(n)(i => (bm(i / 8) & (1 << (i % 8))) != 0)
        }

        try etype match {
          case GTID =>
            // GTID_LOG_EVENT: flags(1) + SID(16) + GNO(8 LE); the
            // trailing logical-timestamp fields are not needed here
            c.u8()
            val sid = c.bytes(16)
            val gno = {
              var v = 0L; var i = 0
              while (i < 8) { v |= (c.u8().toLong & 0xFF) << (8 * i); i += 1 }
              v
            }
            val hex = sid.map(b => f"${b & 0xFF}%02x").mkString
            curGtid = s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-" +
              s"${hex.substring(12, 16)}-${hex.substring(16, 20)}-" +
              s"${hex.substring(20)}:$gno"
          case ANONYMOUS_GTID =>
            // ANONYMOUS_GTID_LOG_EVENT (GTID_MODE OFF/ON_PERMISSIVE):
            // the transaction has NO gtid — reset the frame so it is
            // not attributed to the previous GTID'd transaction (the
            // text FSM resets via GTID_NEXT='ANONYMOUS' the same way)
            curGtid = ""
          case TABLE_MAP =>
            val tid = c.u48(); c.u16()
            val db = c.str(c.u8()); c.u8() // NUL
            val tbl = c.str(c.u8()); c.u8() // NUL
            val nCols = c.lenenc().toInt
            val types = Array.fill(nCols)(c.u8())
            c.lenenc() // metadata block length
            val meta = new Array[Int](nCols)
            var ci = 0
            while (ci < nCols) {
              meta(ci) = types(ci) match {
                case 1 | 2 | 3 | 8 | 9 => 0 // integer family: no metadata
                case 10 | 13 => 0 // DATE / YEAR: no metadata
                case 4 | 5 => c.u8() // size byte (4 / 8)
                case 15 | 253 => c.u16() // max byte length
                case 17 | 18 | 19 => c.u8() // fractional-second precision
                case 245 | 252 => c.u8() // JSON / BLOB: length-prefix width
                case 16 => c.u8() | (c.u8() << 8) // BIT: bit_len, bytes_in_rec
                case 254 =>
                  // STRING carries its REAL type (CHAR 254 / ENUM 247 /
                  // SET 248) in meta byte 0; a CHAR byte-length > 255
                  // folds its high bits into byte 0 by XOR against the
                  // type's 0x30 bits (Field_string::
                  // do_save_field_metadata) — normalize both into
                  // types/meta so `literal` dispatches on real types
                  val m0 = c.u8(); val m1 = c.u8()
                  if ((m0 & 0x30) != 0x30) {
                    types(ci) = m0 | 0x30
                    m1 | (((m0 & 0x30) ^ 0x30) << 4)
                  } else { types(ci) = m0; m1 }
                case 246 => (c.u8() << 8) | c.u8() // precision, scale
                case t => throw new IllegalArgumentException(s"unsupported column type $t")
              }
              ci += 1
            }
            tables(tid) = TableDef(db, tbl, types, meta)
          case WRITE_V1 | UPDATE_V1 | DELETE_V1 |
              WRITE_V2 | UPDATE_V2 | DELETE_V2 if ddlOnly =>
            () // ddlOnly fast path: rows bodies never decode
          case WRITE_V1 | UPDATE_V1 | DELETE_V1 |
              WRITE_V2 | UPDATE_V2 | DELETE_V2 =>
            val tid = c.u48()
            val rowsFlags = c.u16() // bit 0 = STMT_END_F
            // v1 (5.1-era, types 23-25) has NO variable extra-data
            // field after the flags; v2 prefixes one with its length
            if (etype >= WRITE_V2) {
              val extraLen = c.u16(); if (extraLen > 2) c.bytes(extraLen - 2)
            }
            val td = tables.getOrElse(tid,
              throw new IllegalArgumentException(s"rows event for unmapped table $tid"))
            val nCols = c.lenenc().toInt
            val isUpdate = etype == UPDATE_V1 || etype == UPDATE_V2
            val (op, inc1, inc2) = etype match {
              case WRITE_V1 | WRITE_V2 => ("insert", bitmap(c, nCols), null)
              case DELETE_V1 | DELETE_V2 => ("delete", bitmap(c, nCols), null)
              case _ => ("update", bitmap(c, nCols), bitmap(c, nCols))
            }
            while (c.off < bodyEnd) {
              val (o1, v1) = image(td, inc1, c)
              val (o2, v2) =
                if (isUpdate) image(td, inc2, c)
                else (Array.emptyIntArray, Array.empty[String])
              val (bo, bv, ao, av) = etype match {
                case WRITE_V1 | WRITE_V2 =>
                  (Array.emptyIntArray, Array.empty[String], o1, v1)
                case DELETE_V1 | DELETE_V2 =>
                  (o1, v1, Array.emptyIntArray, Array.empty[String])
                case _ => (o1, v1, o2, v2)
              }
              out += RawChange(file, seq, startPos, logPos, startPosRaw,
                stopPosRaw, dtRaw, td.db, td.table, op, bo, bv, ao, av, null,
                curGtid, curQuery)
              seq += 1
            }
            // the statement's last rows event closes the ROWS_QUERY
            // scope (sql/log_event.cc clears binlog_rows_query there)
            if ((rowsFlags & 0x0001) != 0) curQuery = null
          case PARTIAL_UPDATE =>
            // PARTIAL_UPDATE_ROWS_EVENT (MySQL 8.0,
            // binlog_row_value_options=PARTIAL_JSON): an UPDATE whose
            // after-image JSON columns may carry diff sequences. Frame
            // layout matches UPDATE_V2; the after image is decoded by
            // imagePartial, which applies each diff against the
            // before-image document — so the emitted ChangeEvent is
            // indistinguishable from a full-image update.
            val tid = c.u48()
            val rowsFlags = c.u16()
            val extraLen = c.u16(); if (extraLen > 2) c.bytes(extraLen - 2)
            val td = tables.getOrElse(tid,
              throw new IllegalArgumentException(s"rows event for unmapped table $tid"))
            val nCols = c.lenenc().toInt
            val inc1 = bitmap(c, nCols)
            val inc2 = bitmap(c, nCols)
            while (c.off < bodyEnd) {
              val beforeJson = scala.collection.mutable.Map.empty[Int, Array[Byte]]
              val (o1, v1) = image(td, inc1, c,
                jsonSink = (ci, doc) => { beforeJson(ci) = doc; () })
              val (o2, v2) = imagePartial(td, inc2, c, beforeJson)
              out += RawChange(file, seq, startPos, logPos, startPosRaw,
                stopPosRaw, dtRaw, td.db, td.table, "update", o1, v1, o2, v2,
                null, curGtid, curQuery)
              seq += 1
            }
            if ((rowsFlags & 0x0001) != 0) curQuery = null
          case ROWS_QUERY =>
            // ROWS_QUERY_LOG_EVENT (binlog_rows_query_log_events=ON):
            // 1 ignored length byte (the text can exceed 255 bytes, so
            // consumers read to the event end — mysqlbinlog's
            // Rows_query_log_event ctor does exactly this), then the
            // original statement verbatim.
            c.u8()
            curQuery = new String(
              java.util.Arrays.copyOfRange(buf, c.off, bodyEnd), "UTF-8")
          case TRANSACTION_PAYLOAD =>
            // Transaction_payload_event (MySQL 8.0.20+,
            // binlog_transaction_compression=ON): the whole transaction
            // body (BEGIN query, table maps, rows events, XID) as one
            // ZSTD-compressed blob. The reference never sees this event
            // because `mysqlbinlog` decompresses before text output
            // (/root/reference/main.py:90); the binary twin must do the
            // same decompress-and-replay itself.
            //
            // Header: TLV fields, each (type, value-size, value) as
            // length-encoded integers (libbinlogevents codecs/binary
            // .cpp encode_field/net_store_length); type 0 = header end
            // mark (no size/value), 1 = payload size, 2 = compression
            // type (0 ZSTD, 255 NONE), 3 = uncompressed size. The
            // compressed payload is everything after the end mark.
            var compression = 255L // NONE unless declared
            var uncompressedSize = -1L
            var endMark = false
            // bounded by bodyEnd: a malformed header that never yields
            // the type-0 end mark must surface as the decoder's
            // standard corrupt-payload diagnostic, not walk the cursor
            // off the buffer into a raw ArrayIndexOutOfBounds
            while (!endMark) {
              if (c.off >= bodyEnd) throw new IllegalArgumentException(
                "Transaction_payload: header end mark missing before body end")
              val ftype = c.lenenc()
              if (ftype == 0) endMark = true
              else {
                val flen = c.lenenc().toInt
                val vEnd = c.off + flen
                val v = c.lenenc()
                if (c.off != vEnd) throw new IllegalArgumentException(
                  s"Transaction_payload field $ftype: declared size $flen " +
                    s"!= encoded size ${c.off - (vEnd - flen)}")
                ftype match {
                  case 2 => compression = v
                  case 3 => uncompressedSize = v
                  case _ => () // 1 = payload size: implied by bodyEnd
                }
              }
            }
            val payload = java.util.Arrays.copyOfRange(buf, c.off, bodyEnd)
            val innerBytes = compression match {
              case 255 => payload
              case 0 =>
                val n = if (uncompressedSize >= 0) uncompressedSize
                  else com.github.luben.zstd.Zstd.getFrameContentSize(payload)
                if (n < 0 || n > Int.MaxValue) throw new IllegalArgumentException(
                  s"Transaction_payload: unknown/oversized uncompressed size $n")
                com.github.luben.zstd.Zstd.decompress(payload, n.toInt)
              case other => throw new IllegalArgumentException(
                s"Transaction_payload: unsupported compression algorithm $other")
            }
            // replay the embedded stream through this same decoder:
            // shares the table map + GTID scope (the GTID event
            // precedes the payload OUTSIDE it), continues seq, and pins
            // positions to the payload event's own file offset
            decodeEvents(innerBytes, 0, innerBytes.length, top = false,
              Some((startPos, logPos, startPosRaw, stopPosRaw)))
          case QUERY if includeDdl =>
            c.u32(); c.u32() // thread_id, exec_time
            val schemaLen = c.u8()
            c.u16() // error code
            val statusLen = c.u16(); c.bytes(statusLen)
            val schema = c.str(schemaLen); c.u8() // NUL
            val query = new String(
              java.util.Arrays.copyOfRange(buf, c.off, bodyEnd), "UTF-8").trim
            val firstWord = query.takeWhile(!_.isWhitespace).toLowerCase
            if (DdlFirstWords.contains(firstWord)) {
              // same shape as the text path: `use` context line + the
              // statement, newline-joined, ';'-terminated
              val useLine = if (schema.nonEmpty) s"use `$schema`;" else ""
              val text = Seq(useLine, query).filter(_.nonEmpty).mkString("\n") + ";"
              out += RawChange(file, seq, startPos, logPos, startPosRaw,
                stopPosRaw, dtRaw, "", "", "ddl", Array.emptyIntArray,
                Array.empty[String], Array.emptyIntArray, Array.empty[String],
                text, curGtid)
              seq += 1
            }
          case _ => () // FDE handled above; rotate/xid/etc skipped
        } catch {
          case e: IllegalArgumentException => throw e
          case scala.util.control.NonFatal(e) =>
            // CONTAINMENT: body-decode failures on streams WITHOUT
            // checksum framing (pre-5.6.1 logs, or a corrupted FDE
            // that disabled detection) must still surface as a
            // diagnosable per-file error with an offset — never as a
            // raw bounds/NPE error escaping into the job
            throw new IllegalArgumentException(
              f"corrupt binlog event in $file at offset $off (type " +
                f"$etype, size $eventSize): " +
                s"${e.getClass.getSimpleName}: ${e.getMessage}", e)
        }
        off += eventSize
      }
    }
    }
    decodeEvents(bytes, 4, bytes.length, top = true, None)
    out.toSeq
  }

  /** Binary binlog files → change-event DataFrame with the same schema
    * as `CdcJob.parse`, through the shared batch reader
    * (`CdcJob.read`): one `binaryFile` task per rotated file. */
  def parse(spark: SparkSession, path: String,
      includeDdl: Boolean = false): DataFrame =
    CdcJob.read(spark, Seq(path), binary = true, includeDdl)

  /** `CdcJob.run` with the binary decoder forced (`--format binary`). */
  def run(spark: SparkSession, path: String,
      catalog: DataFrame, cfg: graft.cdc.CdcConfig): DataFrame =
    CdcJob.run(spark, path, catalog, cfg.copy(format = "binary"))
}
