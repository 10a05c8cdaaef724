package graft.streaming

import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkTestBase

/** S9: the per-transaction status push as a real RFC 6455 WebSocket server —
  * handshake, subscription routing, terminal-status filtering, and the
  * streaming foreachBatch publisher, all against a from-scratch client.
  */
class WebSocketFeedSpec extends SparkTestBase {
  import spark.implicits._

  /** Minimal RFC 6455 client: handshake + frame read (server frames are
    * unmasked) + masked client frames for close.
    */
  private final class Client(port: Int, transactionId: String) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    private val in = sock.getInputStream
    private val out = sock.getOutputStream
    val clientKey = "dGhlIHNhbXBsZSBub25jZQ==" // RFC 6455 §1.3's example nonce
    val acceptHeader: String = {
      out.write((s"GET /ws/$transactionId/ HTTP/1.1\r\n" +
        "Host: localhost\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Key: $clientKey\r\nSec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
      out.flush()
      def line(): String = {
        val sb = new StringBuilder
        var b = in.read()
        while (b >= 0 && b != '\n') { if (b != '\r') sb.append(b.toChar); b = in.read() }
        sb.toString
      }
      val status = line()
      assert(status.contains("101"), s"handshake refused: $status")
      var accept = ""
      var l = line()
      while (l.nonEmpty) {
        if (l.toLowerCase.startsWith("sec-websocket-accept:")) accept = l.split(":", 2)(1).trim
        l = line()
      }
      accept
    }

    /** Read one server text frame's payload (blocks; relies on SO timeout). */
    def readText(timeoutMs: Int = 10000): String = {
      sock.setSoTimeout(timeoutMs)
      def b(): Int = { val x = in.read(); assert(x >= 0, "stream closed"); x }
      val b0 = b(); assert((b0 & 0x0f) == 0x1, s"expected text frame, got opcode ${b0 & 0x0f}")
      val b1 = b()
      var len: Long = b1 & 0x7f
      if (len == 126) len = (b().toLong << 8) | b()
      else if (len == 127) len = (0 until 8).foldLeft(0L)((acc, _) => (acc << 8) | b())
      val p = new Array[Byte](len.toInt)
      var off = 0
      while (off < len) {
        val n = in.read(p, off, len.toInt - off); assert(n >= 0); off += n
      }
      new String(p, UTF_8)
    }

    def sendClose(): Unit = { // masked per the RFC (client→server)
      out.write(Array[Byte](0x88.toByte, 0x80.toByte, 1, 2, 3, 4)); out.flush()
    }
    def hasPending: Boolean = in.available() > 0
    override def close(): Unit = sock.close()
  }

  test("RFC 6455 handshake: the accept token is the spec's SHA-1/Base64 value") {
    // the RFC's own worked example (§1.3)
    assert(WebSocketFeed.acceptKey("dGhlIHNhbXBsZSBub25jZQ==") ===
      "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
    val server = new WebSocketFeed.Server()
    try {
      val c = new Client(server.port, "t1")
      try assert(c.acceptHeader === "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
      finally c.close()
    } finally server.close()
  }

  test("subscription routing: a client gets ITS transaction's frames, '*' gets all, " +
      "and 16-bit-length payloads frame correctly") {
    val server = new WebSocketFeed.Server()
    try {
      val mine = new Client(server.port, "tx-a")
      val all = new Client(server.port, "*")
      try {
        Thread.sleep(100) // subscriptions register on the handler thread
        val big = "E" * 300 // > 125 bytes: exercises the 16-bit length path
        server.publish("tx-a", s"""{"transaction_id":"tx-a","status":"SUCCESS"}""")
        server.publish("tx-b", s"""{"transaction_id":"tx-b","status":"FAILED","error_log":"$big"}""")
        assert(mine.readText().contains("\"tx-a\""))
        val f1 = all.readText(); val f2 = all.readText()
        assert(Set(f1, f2).exists(_.contains("\"tx-a\"")))
        assert(Set(f1, f2).exists(_.contains(big)))
        Thread.sleep(100)
        assert(!mine.hasPending) // tx-b never reached the tx-a subscriber
        mine.sendClose()
      } finally { mine.close(); all.close() }
    } finally server.close()
  }

  test("readFrame rejects hostile/truncated client frames instead of allocating") {
    def frame(bytes: Int*): Option[WebSocketFeed.Frame] =
      WebSocketFeed.readFrame(
        new java.io.ByteArrayInputStream(bytes.map(_.toByte).toArray))
    // a masked 5-byte text frame still parses (mask 0 ⇒ payload unchanged)
    val ok = frame(0x81, 0x85, 0, 0, 0, 0, 'h', 'e', 'l', 'l', 'o')
    assert(ok.exists(f => f.opcode == 1 && new String(f.payload, UTF_8) == "hello"))
    // hostile 64-bit length claim (2^62) must return None, not new Array(<0)
    assert(frame(0x81, 0xff, 0x40, 0, 0, 0, 0, 0, 0, 0) === None)
    // control frame (ping) claiming a 300-byte payload violates RFC §5.5
    assert(frame(0x89, 0xfe, 0x01, 0x2c) === None)
    // EOF mid-extended-length (126 marker, then the stream ends)
    assert(frame(0x81, 0xfe, 0x01) === None)
    // EOF mid-mask
    assert(frame(0x81, 0x85, 0, 0) === None)
  }

  test("streaming publisher: terminal ledger statuses push per micro-batch; PENDING never does") {
    val server = new WebSocketFeed.Server()
    try {
      val client = new Client(server.port, "job-7")
      try {
        Thread.sleep(100)
        implicit val sq = spark.sqlContext
        val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, String)]
        val q = src.toDF().toDF("transaction_id", "status", "error_log")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            WebSocketFeed.publishUpdates(server, df); ()
          }
          .option("checkpointLocation", tmpDir("ws-ckpt"))
          .start()
        try {
          src.addData(("job-7", "PENDING", ""), ("job-9", "SUCCESS", ""))
          q.processAllAvailable()
          src.addData(("job-7", "FAILED", "boom: stage 3 OOM"))
          q.processAllAvailable()
          val frame = client.readText()
          assert(frame.contains("\"job-7\"") && frame.contains("FAILED")
            && frame.contains("boom: stage 3 OOM"))
          Thread.sleep(100)
          assert(!client.hasPending) // the PENDING row was filtered, job-9 isn't ours
        } finally q.stop()
      } finally client.close()
    } finally server.close()
  }
}
