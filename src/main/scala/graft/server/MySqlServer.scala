package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sql.{GraftSession, Render}

/** MySQL wire-protocol front door — the reference's primary entry point
  * (servers/mysql/mysql_handler.rs:1, mysql_interactive_worker.rs:80),
  * restated over the library's SQL session: a stock `mysql` client (or any
  * connector speaking Protocol::41) connects, authenticates trivially, and
  * issues statements that execute through [[graft.sql.GraftSession]] — the
  * same dialect surface the golden suites pin (numbers(), system tables,
  * ENGINE= DDL, combinators), now reachable over a socket.
  *
  * Scope mirrors the reference worker, plus one extension:
  *   - `COM_QUERY` → parse + execute + text-protocol resultset
  *     (`do_query`, mysql_interactive_worker.rs:153);
  *   - `COM_INIT_DB` → `USE db` (`do_init`:193);
  *   - `COM_PING` → OK; `COM_QUIT` → close;
  *   - `COM_STMT_PREPARE/EXECUTE/CLOSE/RESET` — an extension BEYOND the
  *     reference (its worker refuses prepare, `do_prepare`:124): `?`
  *     placeholders split outside string/backtick literals, typed binary
  *     parameters decode per the public binary protocol and substitute as
  *     SQL literals into the same text path, responses use the binary
  *     resultset shape. This is what server-side-prepare connectors need;
  *     with no JDBC driver jar in this sandbox the spec exercises it with
  *     the from-scratch client's binary-protocol path instead;
  *   - any credentials are accepted (the reference's default auth).
  *
  * Protocol notes (public MySQL Client/Server Protocol):
  *   - packets are 3-byte LE length + 1-byte sequence id + payload;
  *     logical payloads ≥ 16 MB-1 split into 0xffffff continuation chunks
  *     on write and reassemble on read, so one huge cell or statement
  *     neither kills the stream nor desyncs it;
  *   - results use the TEXT protocol: every cell is a length-encoded
  *     string rendered by [[graft.sql.Render]] (the same rendering the
  *     reference's query_result_writer.rs emits), NULL = 0xfb, column
  *     type VAR_STRING — stock clients render from the text form;
  *   - rows the driver already holds (SHOW, DESCRIBE, `system.*`) are
  *     sent from the driver with no Spark job; a root ORDER BY result is
  *     merged on the driver ([[graft.plans.DriverMergeExec]]) and handed
  *     over whole; every other result streams through `toLocalIterator`,
  *     one partition at a time; a failure mid-stream emits a correctly
  *     sequenced ERR packet (the protocol's mid-resultset error shape).
  *
  * Threading: one daemon accept loop, one daemon thread per connection —
  * connections share the SparkContext (Spark schedules concurrent jobs)
  * but each gets its OWN [[GraftSession]] over `spark.newSession()`, so
  * `USE` / `SET` on one connection never leaks to another (the reference
  * scopes settings per session — sessions/settings.rs:21-33). */
class MySqlServer(spark: SparkSession, port: Int = 0) {

  private val acceptor = new Acceptor("MySqlServer", "mysql", port, handleConnection)

  /** Bind + start accepting; returns the bound port (ephemeral when 0). */
  def start(): Int = acceptor.start()

  def stop(): Unit = acceptor.stop()

  // ---- packet framing ------------------------------------------------------

  /** Returns (lastSequenceId, payload), reassembling the 16 MB-1
    * continuation convention: a packet of exactly 0xffffff bytes means
    * "more follows"; the logical payload ends at the first shorter packet
    * (possibly empty). Round 7 had no reassembly — an oversized COM_QUERY
    * desynced the stream (ADVICE). */
  private def readPacket(in: InputStream): (Int, Array[Byte]) = {
    def chunk(): (Int, Int, Array[Byte]) = {
      val head = readN(in, 4)
      val len = (head(0) & 0xff) | ((head(1) & 0xff) << 8) | ((head(2) & 0xff) << 16)
      (len, head(3) & 0xff, readN(in, len))
    }
    val (len0, seq0, p0) = chunk()
    if (len0 < 0xffffff) (seq0, p0)
    else {
      val b = new java.io.ByteArrayOutputStream()
      b.write(p0)
      var (len, seq) = (len0, seq0)
      while (len == 0xffffff) {
        val (l, s, p) = chunk()
        len = l; seq = s; b.write(p)
      }
      (seq, b.toByteArray)
    }
  }

  /** Write one logical packet, splitting at the 16 MB-1 boundary (each
    * max-size chunk promises a follow-up; a final short — possibly empty —
    * chunk terminates). Returns the NEXT sequence id, so multi-chunk rows
    * keep the stream's numbering consistent. */
  private def writePacket(out: OutputStream, seq0: Int, payload: Array[Byte]): Int = {
    var seq = seq0
    var off = 0
    def header(len: Int): Unit = {
      out.write(len & 0xff); out.write((len >> 8) & 0xff)
      out.write((len >> 16) & 0xff); out.write(seq & 0xff)
      seq += 1
    }
    while (payload.length - off >= 0xffffff) {
      header(0xffffff)
      out.write(payload, off, 0xffffff)
      off += 0xffffff
    }
    header(payload.length - off)
    out.write(payload, off, payload.length - off)
    seq
  }

  private final class Pkt {
    private val b = new java.io.ByteArrayOutputStream()
    def i1(v: Int): Pkt = { b.write(v & 0xff); this }
    def i2(v: Int): Pkt = { i1(v); i1(v >> 8) }
    def i4(v: Long): Pkt = { i2(v.toInt); i2((v >> 16).toInt) }
    def raw(a: Array[Byte]): Pkt = { b.write(a); this }
    def z(s: String): Pkt = { raw(s.getBytes(UTF_8)); i1(0) }
    def lenencInt(v: Long): Pkt =
      if (v < 251) i1(v.toInt)
      else if (v < 0x10000L) { i1(0xfc); i2(v.toInt) }
      else if (v < 0x1000000L) { i1(0xfd); i1(v.toInt); i1((v >> 8).toInt); i1((v >> 16).toInt) }
      else { i1(0xfe); i4(v); i4(v >> 32) }
    def lenencStr(s: String): Pkt = {
      val a = s.getBytes(UTF_8); lenencInt(a.length.toLong); raw(a)
    }
    def bytes: Array[Byte] = b.toByteArray
  }

  // capability bits this server speaks (Protocol::41 text protocol)
  private val CapProtocol41 = 0x00000200L
  private val CapSecureConn = 0x00008000L
  private val CapPluginAuth = 0x00080000L
  private val ServerStatusAutocommit = 0x0002

  private def okPacket(affected: Long = 0L): Array[Byte] =
    new Pkt().i1(0x00).lenencInt(affected).lenencInt(0L)
      .i2(ServerStatusAutocommit).i2(0).bytes

  private def eofPacket(): Array[Byte] =
    new Pkt().i1(0xfe).i2(0).i2(ServerStatusAutocommit).bytes

  private def errPacket(code: Int, msg: String): Array[Byte] =
    new Pkt().i1(0xff).i2(code).raw("#".getBytes(UTF_8))
      .raw("HY000".getBytes(UTF_8)).raw(msg.getBytes(UTF_8)).bytes

  // ---- connection lifecycle ------------------------------------------------

  private val connIds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def handleConnection(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      // Initial Handshake Packet, protocol version 10. The 21-byte
      // auth-plugin-data salt is fixed — auth is accept-all, the salt is
      // never verified (the reference's default auth posture).
      val caps = CapProtocol41 | CapSecureConn | CapPluginAuth
      val hs = new Pkt()
        .i1(0x0a).z("8.0.0-graft")
        .i4(connIds.incrementAndGet().toLong)
        .raw("graftsal".getBytes(UTF_8)).i1(0) // salt part 1 (8) + filler
        .i2((caps & 0xffff).toInt)
        .i1(33) // utf8_general_ci
        .i2(ServerStatusAutocommit)
        .i2(((caps >> 16) & 0xffff).toInt)
        .i1(21) // auth-plugin-data length
        .raw(new Array[Byte](10)) // reserved
        .raw("graftsaltpt2".getBytes(UTF_8)).i1(0) // salt part 2 (12) + NUL
        .z("mysql_native_password")
      writePacket(out, 0, hs.bytes)
      out.flush()
      val (seq, _) = readPacket(in) // HandshakeResponse41 — accept anyone
      writePacket(out, seq + 1, okPacket())
      out.flush()

      // per-connection isolated session (own current-db / settings / temp
      // views over the shared SparkContext and persistent catalog)
      val session = GraftSession.forConnection(spark)

      // per-connection prepared-statement registry: id → ('?'-split query,
      // parameter types cached from the first execute — stock connectors
      // (Connector/J etc.) send types only once and set
      // new_params_bound_flag=0 on re-executes)
      val stmts = scala.collection.mutable.HashMap[Int, PreparedStmt]()
      val stmtIds = new java.util.concurrent.atomic.AtomicInteger(0)

      var open = true
      while (open) {
        val (_, cmd) = readPacket(in) // commands restart at sequence 0
        if (cmd.isEmpty) open = false
        else (cmd(0) & 0xff) match {
          case 0x01 => open = false // COM_QUIT
          case 0x0e => writePacket(out, 1, okPacket()); out.flush() // COM_PING
          case 0x02 => // COM_INIT_DB → USE <db> (do_init:193)
            val db = new String(cmd, 1, cmd.length - 1, UTF_8)
            runStatement(out, session, s"USE $db")
          case 0x03 => // COM_QUERY
            runStatement(out, session, new String(cmd, 1, cmd.length - 1, UTF_8))
          case 0x16 => // COM_STMT_PREPARE — extension BEYOND the reference
            // (its worker refuses; do_prepare:124) so stock connectors with
            // server-side prepare on can use this door
            val sql = new String(cmd, 1, cmd.length - 1, UTF_8)
            val segs = splitPlaceholders(sql)
            val id = stmtIds.incrementAndGet()
            stmts(id) = new PreparedStmt(segs)
            // prepare-OK: stmt id, 0 columns (result metadata is delivered
            // with each execute's resultset), N params, 0 warnings
            val nParams = segs.length - 1
            var seq = writePacket(out, 1, new Pkt()
              .i1(0x00).i4(id.toLong).i2(0).i2(nParams).i1(0).i2(0).bytes)
            // per protocol, N parameter-definition packets + EOF follow
            (0 until nParams).foreach { i =>
              seq = writePacket(out, seq, paramDefPacket(s"?$i"))
            }
            if (nParams > 0) writePacket(out, seq, eofPacket())
            out.flush()
          case 0x17 => // COM_STMT_EXECUTE
            execPrepared(out, session, cmd, stmts)
          case 0x19 => // COM_STMT_CLOSE: no server response, by protocol
            stmts.remove(leInt(cmd, 1, 4).toInt): Unit
          case 0x1a => // COM_STMT_RESET
            writePacket(out, 1, okPacket()); out.flush()
          case other =>
            writePacket(out, 1, errPacket(1047, s"Unknown command $other"))
            out.flush()
        }
      }
    } catch {
      case _: EOFException => // client went away
      case e: Throwable =>
        System.err.println(s"[mysql] connection error: ${e.getMessage}")
    } finally sock.close()
  }

  // ---- prepared statements (COM_STMT_*) -------------------------------------

  /** Split `sql` at top-level `?` placeholders — single-quoted strings and
    * backtick identifiers are opaque, so a literal '?' never binds. The
    * statement re-assembles as segs(0) + lit(0) + segs(1) + … */
  private def splitPlaceholders(sql: String): Seq[String] = {
    val segs = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0; var inStr = false; var inBt = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inStr) {
        cur.append(c)
        if (c == '\\' && i + 1 < sql.length) { cur.append(sql.charAt(i + 1)); i += 1 }
        else if (c == '\'') inStr = false
      } else if (inBt) {
        cur.append(c)
        if (c == '`') inBt = false
      } else c match {
        case '\'' => inStr = true; cur.append(c)
        case '`' => inBt = true; cur.append(c)
        case '?' => segs += cur.toString; cur.clear(): Unit
        case _ => cur.append(c)
      }
      i += 1
    }
    segs += cur.toString
    segs.result()
  }

  private def leInt(a: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L; var i = 0
    while (i < n) { v |= (a(off + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** A ColumnDefinition41 for a parameter slot (type VAR_STRING — the
    * placeholder's eventual binding decides the real type). */
  private def paramDefPacket(name: String): Array[Byte] =
    new Pkt()
      .lenencStr("def").lenencStr("").lenencStr("").lenencStr("")
      .lenencStr(name).lenencStr(name)
      .i1(0x0c).i2(33).i4(1024L).i1(0xfd).i2(0).i1(0).i2(0).bytes

  /** Render one binary-protocol parameter value as a SQL literal, reading
    * from `a` at (mutable) offset via the cursor. Covers the types stock
    * connectors send: integer family, FLOAT/DOUBLE, NEWDECIMAL + string/
    * blob family (length-encoded), DATE/DATETIME/TIMESTAMP, TIME, NULL
    * (via the null bitmap, handled by the caller). */
  private final class Cursor(val a: Array[Byte], var off: Int) {
    def u1(): Int = { val v = a(off) & 0xff; off += 1; v }
    def le(n: Int): Long = { val v = leInt(a, off, n); off += n; v }
    def lenenc(): Long = u1() match {
      case 0xfc => le(2)
      case 0xfd => le(3)
      case 0xfe => le(8)
      case v => v.toLong
    }
    def bytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(a, off, off + n); off += n; b
    }
  }

  private def sqlString(s: String): String =
    "'" + s.flatMap {
      case '\'' => "\\'"
      case '\\' => "\\\\"
      case c => c.toString
    } + "'"

  private def decodeParamLiteral(cur: Cursor, tpe: Int): String = tpe match {
    case 0x01 => cur.le(1).toByte.toString // TINY
    case 0x02 => cur.le(2).toShort.toString // SHORT
    case 0x03 | 0x09 => cur.le(4).toInt.toString // LONG / INT24
    case 0x08 => cur.le(8).toString // LONGLONG
    case 0x04 => // FLOAT
      java.lang.Float.intBitsToFloat(cur.le(4).toInt).toString
    case 0x05 => // DOUBLE
      java.lang.Double.longBitsToDouble(cur.le(8)).toString
    case 0x0a | 0x0c | 0x07 => // DATE / DATETIME / TIMESTAMP (packed)
      val len = cur.u1()
      if (len == 0) "NULL"
      else {
        val y = cur.le(2); val mo = cur.u1(); val d = cur.u1()
        val (h, mi, s) = if (len >= 7) (cur.u1(), cur.u1(), cur.u1()) else (0, 0, 0)
        val us = if (len >= 11) cur.le(4) else 0L
        if (tpe == 0x0a) f"DATE '$y%04d-$mo%02d-$d%02d'"
        else if (us > 0) f"TIMESTAMP '$y%04d-$mo%02d-$d%02d $h%02d:$mi%02d:$s%02d.$us%06d'"
        else f"TIMESTAMP '$y%04d-$mo%02d-$d%02d $h%02d:$mi%02d:$s%02d'"
      }
    case 0x0b => // TIME → an INTERVAL-ish literal has no portable form; use seconds
      val len = cur.u1()
      if (len == 0) "0"
      else {
        val neg = cur.u1() == 1
        val days = cur.le(4); val h = cur.u1(); val mi = cur.u1(); val s = cur.u1()
        if (len >= 12) cur.le(4): Unit // micros, dropped
        val total = ((days * 24 + h) * 60 + mi) * 60 + s
        (if (neg) -total else total).toString
      }
    case 0x06 => "NULL"
    case 0x00 | 0xf6 => // DECIMAL / NEWDECIMAL travel as length-encoded text
      val n = cur.lenenc().toInt
      val text = new String(cur.bytes(n), UTF_8)
      // inlined unquoted into the statement — validate it IS numeric text,
      // or a hostile binding would splice SQL into the prepared statement
      if (!text.matches("""-?\d+(\.\d+)?([eE][+-]?\d+)?"""))
        throw new IllegalArgumentException(
          s"malformed DECIMAL parameter: ${text.take(64)}")
      text
    case 0x0f | 0xfd | 0xfe | 0xf9 | 0xfa | 0xfb | 0xfc => // string/blob family
      val n = cur.lenenc().toInt
      sqlString(new String(cur.bytes(n), UTF_8))
    case other =>
      throw new IllegalArgumentException(f"unsupported parameter type 0x$other%02x")
  }

  /** Per-connection prepared statement: the '?'-split text plus the
    * parameter types from the most recent typed execute — the protocol
    * sends types only when `new_params_bound_flag=1` (stock connectors
    * set it on the FIRST execute only and expect the server to remember). */
  private final class PreparedStmt(val segs: Seq[String]) {
    var types: Option[Seq[Int]] = None
  }

  /** COM_STMT_EXECUTE: decode the null bitmap + typed binding block,
    * substitute literals into the prepared text, run through the same SQL
    * path as COM_QUERY, answer with a BINARY-protocol resultset. */
  private def execPrepared(out: OutputStream, session: GraftSession,
      cmd: Array[Byte],
      stmts: scala.collection.mutable.HashMap[Int, PreparedStmt]): Unit = {
    try {
      val id = leInt(cmd, 1, 4).toInt
      val stmt = stmts.getOrElse(id,
        throw new IllegalArgumentException(s"unknown statement id $id"))
      val segs = stmt.segs
      val nParams = segs.length - 1
      val cur = new Cursor(cmd, 5)
      cur.u1(); cur.le(4): Unit // flags, iteration count (always 1)
      val lits = if (nParams == 0) Seq.empty[String] else {
        val nullBits = cur.bytes((nParams + 7) / 8)
        def isNull(i: Int): Boolean = (nullBits(i / 8) & (1 << (i % 8))) != 0
        val newBound = cur.u1()
        if (newBound == 1) {
          stmt.types = Some((0 until nParams).map { _ =>
            val t = cur.u1(); cur.u1(): Unit // type, signedness flag
            t
          })
        }
        val types = stmt.types.getOrElse(throw new IllegalArgumentException(
          "execute with new_params_bound_flag=0 before any typed execute"))
        (0 until nParams).map { i =>
          if (isNull(i)) "NULL" else decodeParamLiteral(cur, types(i))
        }
      }
      val sql = segs.head + lits.zip(segs.tail).map { case (l, s) => l + s }.mkString
      val df = session.sql(sql)
      if (df.schema.isEmpty) {
        writePacket(out, 1, okPacket())
        out.flush()
      } else {
        writeResultSet(out, df.schema.fieldNames.toSeq, renderedRows(df), binary = true)
      }
    } catch {
      case e: Throwable =>
        writePacket(out, 1, errPacket(1105,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(480)))
        out.flush()
    }
  }

  /** Result cells in the text form [[graft.sql.Render]] gives, NULL as null. */
  private def renderedRows(df: DataFrame): Iterator[Seq[String]] =
    resultRows(df).map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else Render.value(r.get(i))))

  // stock clients open with `select @@version_comment limit 1` (and
  // connectors probe other @@ vars); answer them as one empty-string cell
  // instead of sending @@ syntax into the dialect
  private val SysVarRe = """(?is)^\s*select\s+@@[\w.]+(\s+limit\s+\d+)?\s*$""".r

  private def runStatement(out: OutputStream, session: GraftSession,
      text: String): Unit = {
    try {
      SysVarRe.findFirstIn(text) match {
        case Some(_) =>
          writeResultSet(out, Seq("@@"), Iterator(Seq("")))
        case None =>
          val df = session.sql(text)
          if (df.schema.isEmpty) { // DDL/SET/INSERT: no result set → OK
            writePacket(out, 1, okPacket())
            out.flush()
          } else {
            writeResultSet(out, df.schema.fieldNames.toSeq, renderedRows(df))
          }
      }
    } catch {
      case e: Throwable =>
        writePacket(out, 1, errPacket(1105,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(480)))
        out.flush()
    }
  }

  /** Resultset writer: column count, N ColumnDefinition41 packets, EOF,
    * row packets, EOF. Text rows are lenenc cells with NULL = 0xfb; binary
    * rows (COM_STMT_EXECUTE responses) are 0x00-headed with the protocol's
    * offset-2 null bitmap, values as lenenc strings (every column is
    * declared VAR_STRING, whose binary encoding IS the lenenc string).
    *
    * A failure while streaming rows (an executor task dying mid-iterator)
    * emits an ERR packet at the CURRENT sequence — the protocol's sanctioned
    * mid-resultset error shape — where round 7 threw to a handler that
    * wrote ERR at sequence 1 into a half-written stream (ADVICE). */
  private def writeResultSet(out: OutputStream, cols: Seq[String],
      rows: Iterator[Seq[String]], binary: Boolean = false): Unit = {
    var seq = 1
    def send(p: Array[Byte]): Unit = seq = writePacket(out, seq, p)
    send(new Pkt().lenencInt(cols.length.toLong).bytes)
    cols.foreach { name =>
      send(new Pkt()
        .lenencStr("def").lenencStr("").lenencStr("").lenencStr("")
        .lenencStr(name).lenencStr(name)
        .i1(0x0c) // fixed-length fields marker
        .i2(33) // utf8_general_ci
        .i4(1024L) // display length
        .i1(0xfd) // MYSQL_TYPE_VAR_STRING (text protocol carries strings)
        .i2(0).i1(0).i2(0)
        .bytes)
    }
    send(eofPacket())
    try {
      rows.foreach { r =>
        val p = new Pkt()
        if (binary) {
          p.i1(0x00)
          val bitmap = new Array[Byte]((cols.length + 7 + 2) / 8)
          r.zipWithIndex.foreach { case (v, i) =>
            if (v == null) bitmap((i + 2) / 8) =
              (bitmap((i + 2) / 8) | (1 << ((i + 2) % 8))).toByte
          }
          p.raw(bitmap)
          r.foreach(v => if (v != null) p.lenencStr(v))
        } else {
          r.foreach(v => if (v == null) p.i1(0xfb) else p.lenencStr(v))
        }
        send(p.bytes)
      }
      send(eofPacket())
    } catch {
      case e: Throwable =>
        send(errPacket(1105, "result stream failed: " +
          Option(e.getMessage).getOrElse(e.getClass.getName).take(400)))
    }
    out.flush()
  }
}
