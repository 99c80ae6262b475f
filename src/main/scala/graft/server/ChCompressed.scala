package graft.server

import java.io.{InputStream, OutputStream}

import net.jpountz.lz4.LZ4Factory

/** The ClickHouse compressed-stream frame format (public `CompressedStream`
  * layout — the reference's clickhouse front door negotiates it through the
  * clickhouse-srv crate; `fusequery/query/src/servers/clickhouse/`):
  *
  * {{{
  *  [16B checksum = CityHash_v1_0_2::CityHash128 of everything below]
  *  [ 1B method: 0x82 = LZ4, 0x90 = ZSTD, 0x02 = none]
  *  [ 4B LE compressed_size  — INCLUDES these 9 header bytes]
  *  [ 4B LE uncompressed_size]
  *  [compressed_size - 9 bytes of raw-LZ4-block data]
  * }}}
  *
  * The checksum's uint128 goes on the wire low64-LE then high64-LE. Frames
  * are a byte-stream layer: block boundaries need not align with frame
  * boundaries (real servers flush one frame per ≤1 MiB buffer; so does
  * [[writeFrames]]), and the reader below exposes a plain [[InputStream]]
  * that refills frame-by-frame. LZ4 here is the raw BLOCK format (what
  * lz4-java's compressor/safeDecompressor speak), not the LZ4 frame format. */
object ChCompressed {
  val MethodNone = 0x02
  val MethodLZ4 = 0x82
  val MethodZSTD = 0x90

  /** Classic DBMS_DEFAULT_BUFFER_SIZE: max uncompressed bytes per frame. */
  val MaxUncompressedFrame: Int = 1 << 20

  private val lz4 = LZ4Factory.fastestInstance()

  private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte
    b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte
    b(off + 3) = (v >>> 24).toByte
  }

  private def getIntLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | (b(off + 1) & 0xff) << 8 |
      (b(off + 2) & 0xff) << 16 | (b(off + 3) & 0xff) << 24

  private def putLongLE(b: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 8) { b(off + i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  private def getLongLE(b: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 8) { v |= (b(off + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** Compress `data` into checksummed frames on `out` (LZ4 by default,
    * ZSTD when the client asked via `network_compression_method=zstd`),
    * splitting at [[MaxUncompressedFrame]] so a hostile-sized block can't
    * force the peer to allocate an unbounded decompression buffer. */
  def writeFrames(out: OutputStream, data: Array[Byte],
      method: Int = MethodLZ4): Unit = {
    if (data.isEmpty) { writeFrame(out, data, 0, 0, method); return }
    var off = 0
    while (off < data.length) {
      val n = math.min(MaxUncompressedFrame, data.length - off)
      writeFrame(out, data, off, n, method)
      off += n
    }
  }

  private def writeFrame(out: OutputStream, data: Array[Byte], off: Int,
      len: Int, method: Int): Unit = {
    val (body, cLen) = method match {
      case MethodLZ4 =>
        val comp = lz4.fastCompressor()
        val maxC = comp.maxCompressedLength(len)
        val b = new Array[Byte](9 + maxC)
        (b, comp.compress(data, off, len, b, 9, maxC))
      case MethodZSTD =>
        // raw ZSTD block via zstd-jni (same library ClickHouse links);
        // level 1 mirrors the classic server's network default
        val maxC = com.github.luben.zstd.Zstd.compressBound(len.toLong).toInt
        val b = new Array[Byte](9 + maxC)
        val n = com.github.luben.zstd.Zstd.compressByteArray(
          b, 9, maxC, data, off, len, 1)
        (b, n.toInt)
      case other =>
        throw new IllegalArgumentException(f"unknown frame method 0x$other%02x")
    }
    body(0) = method.toByte
    putIntLE(body, 1, 9 + cLen)
    putIntLE(body, 5, len)
    val (lo, hi) = CityHash102.cityHash128(body, 0, 9 + cLen)
    val hdr = new Array[Byte](16)
    putLongLE(hdr, 0, lo)
    putLongLE(hdr, 8, hi)
    out.write(hdr)
    out.write(body, 0, 9 + cLen)
  }

  /** Sanity bound on a single frame's sizes — a corrupted length field must
    * fail as a protocol error, not as a multi-GiB allocation. */
  private val MaxFrameBytes = 1 << 27 // 128 MiB

  /** Pull-based decompressor: refills from one frame at a time, verifies
    * the CityHash128 checksum before trusting any byte. */
  final class FrameInputStream(in: InputStream) extends InputStream {
    private var buf: Array[Byte] = Array.emptyByteArray
    private var pos = 0

    private def refill(): Boolean = {
      // clean EOF is only legal BETWEEN frames: peek one byte first, so a
      // drained stream yields -1 while a truncated frame stays an error
      val first = in.read()
      if (first < 0) return false
      val hdr = new Array[Byte](16)
      hdr(0) = first.toByte
      System.arraycopy(readN(in, 15), 0, hdr, 1, 15)
      val head = readN(in, 9)
      val method = head(0) & 0xff
      val cLen = getIntLE(head, 1)
      val uLen = getIntLE(head, 5)
      if (cLen < 9 || cLen > MaxFrameBytes || uLen < 0 || uLen > MaxFrameBytes)
        throw new java.io.IOException(
          s"compressed frame with implausible sizes c=$cLen u=$uLen")
      val payload = readN(in, cLen - 9)
      val whole = new Array[Byte](9 + payload.length)
      System.arraycopy(head, 0, whole, 0, 9)
      System.arraycopy(payload, 0, whole, 9, payload.length)
      val (lo, hi) = CityHash102.cityHash128(whole, 0, whole.length)
      if (lo != getLongLE(hdr, 0) || hi != getLongLE(hdr, 8))
        throw new java.io.IOException("compressed frame checksum mismatch")
      buf = method match {
        case MethodLZ4 =>
          lz4.safeDecompressor().decompress(payload, 0, payload.length, uLen)
        case MethodZSTD =>
          val dst = new Array[Byte](uLen)
          val n = com.github.luben.zstd.Zstd.decompressByteArray(
            dst, 0, uLen, payload, 0, payload.length)
          if (com.github.luben.zstd.Zstd.isError(n) || n.toInt != uLen)
            throw new java.io.IOException("ZSTD frame did not decode to " +
              s"its declared size ($n vs $uLen)")
          dst
        case MethodNone =>
          if (payload.length != uLen)
            throw new java.io.IOException("NONE frame size mismatch")
          payload
        case other =>
          throw new java.io.IOException(
            f"unsupported compression method 0x$other%02x")
      }
      pos = 0
      if (buf.length > 0) true else refill() // tolerate (unusual) empty frames
    }

    /** True when every decompressed byte has been consumed. A reader that
      * finishes a logical unit (one Data-packet block) mid-buffer has
      * desynced from the peer's framing — callers check this and reject
      * rather than silently dropping the residue (frame boundaries carry
      * no meaning, but this server decodes one packet per stream instance,
      * so residue means the client packed MORE than the packet's block
      * into its frames). */
    def drained: Boolean = pos >= buf.length

    override def read(): Int = {
      if (pos >= buf.length && !refill()) return -1
      val b = buf(pos) & 0xff
      pos += 1
      b
    }

    override def read(dst: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (pos >= buf.length && !refill()) return -1
      val n = math.min(len, buf.length - pos)
      System.arraycopy(buf, pos, dst, off, n)
      pos += n
      n
    }
  }
}
