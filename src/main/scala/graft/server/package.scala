package graft

import java.io.{EOFException, InputStream}

package object server {

  /** Reads exactly `n` bytes. A stream that ends first throws
    * [[java.io.EOFException]] — the wire servers catch exactly that type
    * as the client-disconnect signal. */
  private[server] def readN(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(s"stream closed after $off of $n bytes")
      off += r
    }
    buf
  }
}
