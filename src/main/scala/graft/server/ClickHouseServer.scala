package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sql.{GraftSession, Render}

/** ClickHouse NATIVE wire-protocol front door — the reference's second
  * entry point (servers/clickhouse/clickhouse_handler.rs:1,
  * interactive_worker_base.rs:32), restated over the library's SQL
  * session the same way [[MySqlServer]] restates the MySQL one.
  *
  * Protocol scope (public ClickHouse TCP protocol, pinned at negotiated
  * revision ≤ 54372 — the display-name era, BEFORE strings-serialized
  * settings flags/OpenTelemetry/interserver additions, so the ClientInfo
  * and settings layouts are the stable classic ones):
  *   - client Hello → server Hello (name, version, revision, timezone,
  *     display name);
  *   - Query (id, ClientInfo, settings-until-empty-name, stage,
  *     compression, text) → typed native Data blocks → EndOfStream;
  *     the trailing empty client Data block (external-tables terminator)
  *     is consumed;
  *   - Ping → Pong; Cancel closes; errors → Exception packet (code,
  *     name, message, stack, nested flag), connection survives;
  *   - compression IS spoken: a Query packet with compression=1 gets its
  *     result blocks in checksummed LZ4 frames ([[ChCompressed]] — the
  *     public CityHash128-checksummed frame layout), and client Data
  *     blocks (external-tables terminator, INSERT payloads) are read
  *     through the same frame decoder — a stock `clickhouse-client` with
  *     default flags works;
  *   - Query-packet settings are decoded in the classic per-type binary
  *     layout for the known setting names (varint-valued numerics/bools,
  *     string-valued enums/floats); an UNKNOWN setting name cannot be
  *     skipped safely (its value's width is unknowable), so it draws a
  *     descriptive Exception and a clean close instead of a desynced
  *     parse;
  *
  * Column encodings are the REAL native ones for the common types —
  * fixed-width little-endian Int8/16/32/64, Float32/64, UInt8 bools,
  * varint-length Strings, Date (UInt16 days), DateTime (UInt32 seconds),
  * Nullable(T) as a null-flag byte column ahead of the values — and the
  * [[graft.sql.Render]] string form for everything else (decimals,
  * arrays, maps), so a native client reads typed data where types exist
  * and faithful text where they don't. Rows the driver already holds
  * (SHOW, DESCRIBE, `system.*`) are sent from the driver with no Spark job;
  * a root ORDER BY result is merged on the driver
  * ([[graft.plans.DriverMergeExec]]) and handed over whole; every other
  * result streams in bounded blocks via `toLocalIterator`, one partition
  * at a time. */
class ClickHouseServer(spark: SparkSession, port: Int = 0,
    blockRows: Int = 8192) {

  private val acceptor = new Acceptor("ClickHouseServer", "clickhouse", port, handleConnection)

  /** Bind + start accepting; returns the bound port (ephemeral when 0). */
  def start(): Int = acceptor.start()

  def stop(): Unit = acceptor.stop()

  // ---- primitive codecs ----------------------------------------------------

  private def readVarint(in: InputStream): Long = {
    var v = 0L; var shift = 0
    while (true) {
      val b = in.read()
      if (b < 0) throw new EOFException("client closed")
      v |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return v
      shift += 7
    }
    v
  }

  private def readString(in: InputStream): String = {
    val n = readVarint(in).toInt
    if (n == 0) "" else new String(readN(in, n), UTF_8)
  }

  private def writeVarint(out: OutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def writeString(out: OutputStream, s: String): Unit = {
    val a = s.getBytes(UTF_8); writeVarint(out, a.length.toLong); out.write(a)
  }

  private def writeFixedLE(out: OutputStream, v: Long, bytes: Int): Unit =
    (0 until bytes).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))

  // server packet ids
  private val SrvHello = 0L; private val SrvData = 1L; private val SrvException = 2L
  private val SrvPong = 4L; private val SrvEndOfStream = 5L
  // client packet ids
  private val CliHello = 0L; private val CliQuery = 1L; private val CliData = 2L
  private val CliCancel = 3L; private val CliPing = 4L

  /** A protocol state the parser cannot recover from mid-stream (unknown
    * setting name, undecodable client column type): the only honest moves
    * are a descriptive Exception packet and a CLOSE — continuing to parse
    * at a guessed offset silently corrupts every later packet (the round-7
    * stray-Data bug ADVICE flagged). */
  private final class ProtocolReject(msg: String)
    extends java.io.IOException(msg)

  /** Highest revision this server speaks; the classic pre-54429 layouts. */
  private val ServerRevision = 54372L

  // ---- connection lifecycle ------------------------------------------------

  private def handleConnection(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      // client Hello
      require(readVarint(in) == CliHello, "expected client Hello")
      readString(in) // client name
      readVarint(in); readVarint(in) // client version major/minor
      val clientRev = readVarint(in)
      val db = readString(in)
      readString(in); readString(in) // user, password: accept-all
      val rev = math.min(clientRev, ServerRevision)
      // server Hello
      writeVarint(out, SrvHello)
      writeString(out, "Graft")
      writeVarint(out, 21L); writeVarint(out, 8L) // version major/minor
      writeVarint(out, ServerRevision)
      if (rev >= 54058L) writeString(out, "UTC")
      if (rev >= 54372L) writeString(out, "graft")
      out.flush()
      // per-connection isolated session (own current-db / settings / temp
      // views over the shared SparkContext) — the reference's per-session
      // context (sessions/settings.rs:21-33); `USE`/`SET` on this
      // connection is invisible to every other
      val session = GraftSession.forConnection(spark)
      if (db.nonEmpty && db != "default")
        session.sql(s"USE $db")

      var open = true
      // compression is negotiated per QUERY (the Query packet carries the
      // flag); client Data blocks that follow a query use its setting
      var compress = false
      while (open) {
        try readVarint(in) match {
          case CliPing =>
            writeVarint(out, SrvPong); out.flush()
          case CliCancel => open = false
          case CliHello => // protocol error — one hello per connection
            open = false
          case CliQuery =>
            val (qCompress, qMethod, text) = readQueryPacket(in, rev)
            compress = qCompress
            // external-tables terminator: an empty client Data block
            consumeClientData(in, rev, compress)
            runQuery(out, session, text, compress, qMethod)
          case CliData =>
            // stray data block (a native-protocol INSERT payload): consume
            // the WHOLE body — table name, BlockInfo, typed columns — so
            // the stream stays in sync (ignoring just the packet id left
            // the body to be misparsed as packet ids; round-7 ADVICE)
            consumeClientDataBody(in, rev, compress)
          case other =>
            sendException(out, s"unsupported client packet $other")
            out.flush()
        } catch {
          case e: ProtocolReject =>
            // parser cannot resync — say why, then close
            sendException(out, e.getMessage)
            out.flush()
            open = false
        }
      }
    } catch {
      case _: EOFException =>
      case e: Throwable =>
        System.err.println(s"[clickhouse] connection error: ${e.getMessage}")
    } finally sock.close()
  }

  /** Setting names whose classic (pre-54429) binary value layout is a
    * varint (UInt64 / bool / seconds / milliseconds settings — the common
    * tuning knobs a client passes). String/enum/float settings serialize
    * as strings — the short list below. A name in NEITHER set cannot be
    * skipped (its value's width is unknowable) → [[ProtocolReject]]. */
  private val varintSettings: Set[String] = Set(
    "max_threads", "max_block_size", "max_insert_block_size",
    "min_insert_block_size_rows", "min_insert_block_size_bytes",
    "max_read_buffer_size", "max_query_size", "interactive_delay",
    "connect_timeout", "receive_timeout", "send_timeout",
    "max_execution_time", "max_rows_to_read", "max_bytes_to_read",
    "max_rows_to_group_by", "max_rows_to_sort", "max_bytes_to_sort",
    "max_result_rows", "max_result_bytes", "max_memory_usage",
    "max_memory_usage_for_user", "min_compress_block_size",
    "max_compress_block_size", "priority", "log_queries",
    "log_queries_cut_to_length", "readonly", "max_rows_in_set",
    "max_bytes_in_set", "max_rows_in_join", "max_bytes_in_join",
    "max_rows_in_distinct", "max_bytes_in_distinct", "max_subquery_depth",
    "max_ast_depth", "max_ast_elements", "use_uncompressed_cache",
    "replace_running_query", "insert_deduplicate", "insert_quorum",
    "select_sequential_consistency", "extremes", "skip_unavailable_shards",
    "max_network_bandwidth", "max_network_bytes", "poll_interval",
    "optimize_throw_if_noop", "max_columns_to_read",
    "max_temporary_columns", "max_temporary_non_const_columns")
  private val stringSettings: Set[String] = Set(
    "load_balancing", "totals_mode", "totals_auto_threshold",
    "default_format", "count_distinct_implementation",
    "network_compression_method", "send_logs_level",
    "max_streams_to_max_threads_ratio", "memory_tracker_fault_probability",
    "force_index_by_date", "force_primary_key", "compile")

  /** Parse a Query packet at `rev`: returns (compressionRequested,
    * serverFrameMethod, text) — the method honors the classic
    * `network_compression_method` setting (lz4 | zstd | none). Throws
    * [[ProtocolReject]] when an unknown setting makes the stream position
    * unknowable. */
  private def readQueryPacket(in: InputStream,
      rev: Long): (Boolean, Int, String) = {
    readString(in) // query id
    if (rev >= 54032L) { // ClientInfo
      val kind = in.read()
      if (kind > 0) {
        readString(in); readString(in); readString(in) // initial user/id/addr
        val iface = in.read() // 1 = TCP
        if (iface == 1) {
          readString(in); readString(in); readString(in) // os_user, host, name
          readVarint(in); readVarint(in); readVarint(in) // version + revision
        } else {
          readString(in); readString(in) // HTTP method + user agent
        }
        if (rev >= 54060L) readString(in) // quota key
        if (rev >= 54401L) readVarint(in) // version patch
      }
    }
    // settings: (name, typed value) pairs, empty name terminates — the
    // classic per-type binary layout (the strings-serialized layout only
    // exists from revision 54429, above our pinned 54372)
    var method = ChCompressed.MethodLZ4
    var name = readString(in)
    while (name.nonEmpty) {
      if (varintSettings(name)) readVarint(in)
      else if (stringSettings(name)) {
        val v = readString(in)
        // the one string setting that changes the wire itself: the codec
        // this server uses for ITS frames (client frames self-describe
        // via each frame's method byte)
        if (name == "network_compression_method") method =
          v.toLowerCase match {
            case "lz4" => ChCompressed.MethodLZ4
            case "zstd" => ChCompressed.MethodZSTD
            case "none" => ChCompressed.MethodNone
            case other => throw new ProtocolReject(
              s"unknown network_compression_method '$other'")
          }
      }
      else throw new ProtocolReject(
        s"setting '$name' is not recognized; its classic binary layout is " +
          "unknown to this server, so the query packet cannot be parsed " +
          "past it — retry without the setting")
      name = readString(in)
    }
    readVarint(in) // processing stage (2 = complete)
    val compression = readVarint(in)
    val text = readString(in)
    (compression != 0L, method, text)
  }

  /** Consume one client Data packet including its leading packet id
    * (external-tables terminator after a query). */
  private def consumeClientData(in: InputStream, rev: Long,
      compress: Boolean): Unit = {
    val id = readVarint(in)
    require(id == CliData, s"expected client Data terminator, got packet $id")
    consumeClientDataBody(in, rev, compress)
  }

  /** Consume a client Data packet BODY (the id already read): table name
    * (always plain), then — through the LZ4 frame decoder when the active
    * query negotiated compression — BlockInfo, column/row counts, and
    * every column's typed payload. Unknown column types cannot be skipped
    * (width unknown) → [[ProtocolReject]]. */
  private def consumeClientDataBody(in: InputStream, rev: Long,
      compress: Boolean): Unit = {
    if (rev >= 50264L) readString(in) // temporary table name
    val bin: InputStream =
      if (compress) new ChCompressed.FrameInputStream(in) else in
    // BlockInfo
    var field = readVarint(bin)
    while (field != 0L) {
      field match {
        case 1L => bin.read() // is_overflows
        case 2L => readN(bin, 4) // bucket_num i32
        case _ => throw new ProtocolReject(s"unknown BlockInfo field $field")
      }
      field = readVarint(bin)
    }
    val nCols = readVarint(bin).toInt
    val nRows = readVarint(bin).toInt
    (0 until nCols).foreach { _ =>
      readString(bin) // column name
      val chType = readString(bin)
      skipColumn(bin, chType, nRows)
    }
    // this server decodes ONE block per frame stream (as clickhouse-client
    // flushes); a client that packed the NEXT block's bytes into this
    // packet's frames would silently desync — residue is a hard reject,
    // not a silent drop
    bin match {
      case f: ChCompressed.FrameInputStream if !f.drained =>
        throw new ProtocolReject(
          "compressed Data packet carries bytes past its one block; this " +
            "server requires one-block-per-frame-stream flushing")
      case _ =>
    }
  }

  /** Skip one column's payload by declared ClickHouse type. */
  private def skipColumn(bin: InputStream, chType: String, nRows: Int): Unit =
    chType match {
      case t if t.startsWith("Nullable(") && t.endsWith(")") =>
        if (nRows > 0) readN(bin, nRows) // null-flag bytes
        skipColumn(bin, t.substring(9, t.length - 1), nRows)
      case "String" => (0 until nRows).foreach(_ => readString(bin))
      case "Int8" | "UInt8" => if (nRows > 0) readN(bin, nRows)
      case "Int16" | "UInt16" | "Date" => if (nRows > 0) readN(bin, 2 * nRows)
      case "Int32" | "UInt32" | "DateTime" | "Float32" =>
        if (nRows > 0) readN(bin, 4 * nRows)
      case "Int64" | "UInt64" | "Float64" =>
        if (nRows > 0) readN(bin, 8 * nRows)
      case other =>
        throw new ProtocolReject(
          s"cannot consume client column of type $other; native-protocol " +
            "INSERT is limited to the fixed-width/String column set")
    }

  private def sendException(out: OutputStream, msg: String): Unit = {
    writeVarint(out, SrvException)
    writeFixedLE(out, 1105L, 4) // code (i32 LE)
    writeString(out, "DB::Exception")
    writeString(out, msg)
    writeString(out, "") // stack trace
    out.write(0) // no nested exception
  }

  // ---- typed native column encodings ---------------------------------------

  private sealed trait Enc {
    def chType: String
    def write(out: OutputStream, v: Any): Unit
    def default(out: OutputStream): Unit
  }
  private final class FixedEnc(val chType: String, bytes: Int,
      toLong: Any => Long) extends Enc {
    def write(out: OutputStream, v: Any): Unit =
      writeFixedLE(out, toLong(v), bytes)
    def default(out: OutputStream): Unit = writeFixedLE(out, 0L, bytes)
  }
  private final class StrEnc(render: Any => String) extends Enc {
    val chType = "String"
    def write(out: OutputStream, v: Any): Unit = writeString(out, render(v))
    def default(out: OutputStream): Unit = writeString(out, "")
  }

  private def encoderFor(dt: DataType): Enc = dt match {
    case ByteType => new FixedEnc("Int8", 1, v => v.asInstanceOf[Byte].toLong)
    case ShortType => new FixedEnc("Int16", 2, v => v.asInstanceOf[Short].toLong)
    case IntegerType => new FixedEnc("Int32", 4, v => v.asInstanceOf[Int].toLong)
    case LongType => new FixedEnc("Int64", 8, v => v.asInstanceOf[Long])
    case BooleanType =>
      new FixedEnc("UInt8", 1, v => if (v.asInstanceOf[Boolean]) 1L else 0L)
    case FloatType => new FixedEnc("Float32", 4,
      v => java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong & 0xffffffffL)
    case DoubleType => new FixedEnc("Float64", 8,
      v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    // Date/DateTime clamp to the wire type's unsigned range (Date: UInt16
    // days 1970..2149-06-06; DateTime: UInt32 seconds 1970..2106): an
    // out-of-range value saturates to the boundary instead of silently
    // bit-truncating into a wrong-but-plausible date (round-7 ADVICE)
    case DateType => new FixedEnc("Date", 2, v => {
      val d = v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
      math.max(0L, math.min(65535L, d))
    })
    case _: TimestampType => new FixedEnc("DateTime", 4, v => {
      val sec = java.lang.Math.floorDiv(
        v.asInstanceOf[java.sql.Timestamp].getTime, 1000L)
      math.max(0L, math.min(4294967295L, sec))
    })
    case StringType => new StrEnc(v => v.asInstanceOf[String])
    case _ => new StrEnc(Render.value) // decimals/arrays/structs: text form
  }

  private def runQuery(out: OutputStream, session: GraftSession,
      text: String, compress: Boolean,
      method: Int = ChCompressed.MethodLZ4): Unit = {
    try {
      val df = session.sql(text)
      if (df.schema.nonEmpty) {
        val fields = df.schema.fields
        val encs = fields.map(f => encoderFor(f.dataType))
        val rows = resultRows(df)
        // header block (zero rows) announces the schema, as CH servers do
        writeBlock(out, fields, encs, Seq.empty, compress, method)
        val buf = scala.collection.mutable.ArrayBuffer[Row]()
        while (rows.hasNext) {
          buf += rows.next()
          if (buf.length >= blockRows) {
            writeBlock(out, fields, encs, buf.toSeq, compress, method)
            buf.clear()
          }
        }
        if (buf.nonEmpty)
          writeBlock(out, fields, encs, buf.toSeq, compress, method)
      }
      writeVarint(out, SrvEndOfStream)
      out.flush()
    } catch {
      case e: Throwable =>
        sendException(out,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(480))
        out.flush()
    }
  }

  /** One Data packet: id + table name plain; the block body either plain
    * or as checksummed LZ4 frames — matching the real servers' layout,
    * where compression wraps the block serialization, not the packet
    * framing (Exception/EndOfStream/Pong stay uncompressed always). */
  private def writeBlock(out: OutputStream, fields: Array[StructField],
      encs: Array[Enc], rows: Seq[Row], compress: Boolean,
      method: Int = ChCompressed.MethodLZ4): Unit = {
    writeVarint(out, SrvData)
    writeString(out, "") // temporary table name
    if (compress) {
      val body = new java.io.ByteArrayOutputStream(64 * 1024)
      writeBlockBody(body, fields, encs, rows)
      ChCompressed.writeFrames(out, body.toByteArray, method)
    } else writeBlockBody(out, fields, encs, rows)
  }

  private def writeBlockBody(out: OutputStream, fields: Array[StructField],
      encs: Array[Enc], rows: Seq[Row]): Unit = {
    // BlockInfo: field 1 is_overflows=0, field 2 bucket_num=-1, end
    writeVarint(out, 1L); out.write(0)
    writeVarint(out, 2L); writeFixedLE(out, 0xffffffffL, 4)
    writeVarint(out, 0L)
    writeVarint(out, fields.length.toLong)
    writeVarint(out, rows.length.toLong)
    fields.indices.foreach { c =>
      val f = fields(c); val enc = encs(c)
      writeString(out, f.name)
      writeString(out, if (f.nullable) s"Nullable(${enc.chType})" else enc.chType)
      if (f.nullable) // null-flag column precedes the values
        rows.foreach(r => out.write(if (r.isNullAt(c)) 1 else 0))
      rows.foreach { r =>
        if (r.isNullAt(c)) enc.default(out) else enc.write(out, r.get(c))
      }
    }
  }
}
