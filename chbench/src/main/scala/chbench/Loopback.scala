package chbench

import java.io.{BufferedInputStream, IOException}
import java.net.{InetAddress, ServerSocket}
import java.util.concurrent.atomic.AtomicLong

import graft.sources.native.NativeCodec

/**
 * In-process server for `clickhouse_remote` `transport=socket`: it reads
 * the query string (a Native String: LEB128 length + UTF-8), answers with
 * the Native block bytes registered under that query, and closes. One
 * connection is served at a time, on the loopback interface only.
 */
final class Loopback(payloads: Map[String, (Array[Byte], Long)]) extends AutoCloseable {
  private val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
  val accepts = new AtomicLong(0)
  /** Rows of responses written out in full. */
  val rowsServed = new AtomicLong(0)

  def url: String = s"socket://127.0.0.1:${server.getLocalPort}"

  private val thread = new Thread(() => serve(), "chbench-loopback")
  thread.setDaemon(true)
  thread.start()

  private def serve(): Unit =
    while (!server.isClosed) {
      try {
        val sock = server.accept()
        accepts.incrementAndGet()
        try {
          val in = new NativeCodec.Input(new BufferedInputStream(sock.getInputStream))
          val query = in.readString()
          val (bytes, rows) = payloads.getOrElse(query,
            throw new IOException(s"loopback: unknown query '$query'"))
          val out = sock.getOutputStream
          out.write(bytes)
          out.flush()
          rowsServed.addAndGet(rows)
        } catch {
          // a schema probe closes after the first block header
          case _: IOException =>
        } finally sock.close()
      } catch {
        case _: IOException => // server socket closed
      }
    }

  override def close(): Unit = {
    server.close()
    thread.join(5000)
  }
}
