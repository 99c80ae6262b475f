package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** What one COM_QUERY returned, with socket-side timestamps (epoch ms, see
  * [[Tracer.nowMs]]): `sentMs` after the query packet is flushed,
  * `firstRowMs`/`lastRowMs` when the first and last row packets arrive
  * (equal to the response time when there are no rows), `doneMs` at the
  * terminating packet. `rows` is null-preserving text, as the protocol
  * carries it. */
final case class WireResult(error: Option[String], columns: Seq[String],
    rows: Seq[Seq[String]], sentMs: Double, firstRowMs: Double,
    lastRowMs: Double, doneMs: Double, bytes: Long) {
  def hasResultSet: Boolean = columns.nonEmpty
}

/** Minimal MySQL client for the text protocol: Protocol::41 handshake with
  * an empty password, `COM_QUERY`, and text resultsets. Enough to drive the
  * engine's MySQL front door the way a stock client does, and to time the
  * packets at the socket. */
final class MySqlClient(host: String, port: Int) extends AutoCloseable {
  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  private var bytesIn = 0L

  private def readFully(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException("server closed the connection")
      off += r
    }
    bytesIn += n
    buf
  }

  /** One logical packet: 3-byte little-endian length + sequence id, with
    * 0xffffff-long chunks continuing into the next. */
  private def readPacket(): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    var len = 0xffffff
    while (len == 0xffffff) {
      val h = readFully(4)
      len = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
      b.write(readFully(len))
    }
    b.toByteArray
  }

  private def writePacket(seq: Int, payload: Array[Byte]): Unit = {
    val n = payload.length
    out.write(n & 0xff); out.write((n >> 8) & 0xff); out.write((n >> 16) & 0xff)
    out.write(seq & 0xff)
    out.write(payload)
    out.flush()
  }

  private def errorText(p: Array[Byte]): String = // 0xff, code(2), '#', state(5), msg
    new String(p, 9, math.max(0, p.length - 9), UTF_8)

  // handshake: server greeting, then HandshakeResponse41 with no password
  locally {
    readPacket()
    val caps = 0x00000200 | 0x00008000 | 0x00080000 // PROTOCOL_41 | SECURE_CONN | PLUGIN_AUTH
    val resp = new java.io.ByteArrayOutputStream()
    def le4(v: Int): Unit = (0 until 4).foreach(i => resp.write((v >> (8 * i)) & 0xff))
    le4(caps); le4(1 << 24); resp.write(33); resp.write(new Array[Byte](23))
    resp.write("bench".getBytes(UTF_8)); resp.write(0)
    resp.write(0) // auth response length
    resp.write("mysql_native_password".getBytes(UTF_8)); resp.write(0)
    writePacket(1, resp.toByteArray)
    val ok = readPacket()
    if ((ok(0) & 0xff) == 0xff) throw new IllegalStateException(errorText(ok))
  }

  private final class Reader(p: Array[Byte]) {
    var off = 0
    def u1(): Int = { val v = p(off) & 0xff; off += 1; v }
    def le(n: Int): Long = {
      var v = 0L
      (0 until n).foreach(i => v |= (p(off + i) & 0xffL) << (8 * i))
      off += n
      v
    }
    def lenenc(): Long = u1() match {
      case 0xfc => le(2)
      case 0xfd => le(3)
      case 0xfe => le(8)
      case v => v.toLong
    }
    def lenencStr(): String =
      if ((p(off) & 0xff) == 0xfb) { off += 1; null }
      else {
        val n = lenenc().toInt
        val s = new String(p, off, n, UTF_8)
        off += n
        s
      }
  }

  private def isEof(p: Array[Byte]): Boolean = (p(0) & 0xff) == 0xfe && p.length < 9

  def query(sql: String): WireResult = {
    val b0 = bytesIn
    writePacket(0, Array(0x03.toByte) ++ sql.getBytes(UTF_8))
    val sent = Tracer.nowMs()
    val head = readPacket()
    val t = Tracer.nowMs()
    (head(0) & 0xff) match {
      case 0xff => WireResult(Some(errorText(head)), Nil, Nil, sent, t, t, t, bytesIn - b0)
      case 0x00 => WireResult(None, Nil, Nil, sent, t, t, t, bytesIn - b0)
      case _ =>
        val ncols = new Reader(head).lenenc().toInt
        val cols = (0 until ncols).map { _ =>
          val r = new Reader(readPacket())
          (0 until 4).foreach(_ => r.lenencStr()) // catalog, schema, table, org_table
          r.lenencStr()
        }
        readPacket() // EOF after the column definitions
        val rows = Vector.newBuilder[Seq[String]]
        var first = Double.NaN
        var last = t
        var p = readPacket()
        var err: Option[String] = None
        while (!isEof(p) && err.isEmpty) {
          last = Tracer.nowMs()
          if (first.isNaN) first = last
          if ((p(0) & 0xff) == 0xff) err = Some(errorText(p))
          else {
            val r = new Reader(p)
            rows += (0 until ncols).map(_ => r.lenencStr())
            p = readPacket()
          }
        }
        val done = Tracer.nowMs()
        WireResult(err, cols, rows.result(), sent,
          if (first.isNaN) done else first, if (first.isNaN) done else last, done,
          bytesIn - b0)
    }
  }

  def close(): Unit = {
    try writePacket(0, Array(0x01.toByte)) // COM_QUIT
    catch { case _: java.io.IOException => }
    sock.close()
  }
}
