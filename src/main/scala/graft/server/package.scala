package graft

import java.io.{EOFException, InputStream}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec

package object server {

  /** The accept side both wire servers share: `start()` binds `port` and
    * runs one daemon `graft-<tag>-acceptor` thread that hands every
    * accepted socket to `handle` on a daemon `graft-<tag>-conn-<n>`
    * thread, and returns the bound port (ephemeral when 0); `stop()`
    * closes the socket, which ends the accept loop. */
  private[server] final class Acceptor(server: String, tag: String, port: Int,
      handle: Socket => Unit) {
    @volatile private var serverSocket: ServerSocket = _
    @volatile private var running = false
    private val connSeq = new AtomicInteger(0)

    def start(): Int = synchronized {
      require(serverSocket == null, s"$server already started")
      serverSocket = new ServerSocket(port)
      running = true
      val acceptor = new Thread(() => {
        while (running) {
          try {
            val sock = serverSocket.accept()
            val t = new Thread(() => handle(sock))
            t.setDaemon(true)
            t.setName(s"graft-$tag-conn-${connSeq.incrementAndGet()}")
            t.start()
          } catch {
            case _: Throwable if !running => // closed during stop()
            case e: Throwable =>
              System.err.println(s"[$tag] accept failed: ${e.getMessage}")
          }
        }
      })
      acceptor.setDaemon(true)
      acceptor.setName(s"graft-$tag-acceptor")
      acceptor.start()
      serverSocket.getLocalPort
    }

    def stop(): Unit = synchronized {
      running = false
      if (serverSocket != null) { serverSocket.close(); serverSocket = null }
    }
  }

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

  /** The rows a front door sends for `df`. Rows the driver already holds
    * (the plan is a `LocalTableScanExec`: SHOW, DESCRIBE, `system.*`,
    * VALUES) come from `collect()`, which starts no Spark job; Spark's
    * `toLocalIterator` would re-parallelise them and fetch each slice with
    * a job of its own. Every other result goes through `toLocalIterator`.
    * For a root ORDER BY that reaches [[graft.plans.DriverMergeExec]],
    * which collects the sorted partitions in one job and hands over the
    * merged rows; any other result streams one partition at a time, so
    * the server never holds it whole. */
  private[server] def resultRows(df: DataFrame): Iterator[Row] =
    df.queryExecution.executedPlan match {
      case _: LocalTableScanExec => df.collect().iterator
      case _ => df.toLocalIterator().asScala
    }
}
