package graft

import graft.streaming.{OrderStreamPipeline, RespKVStore, RespServer, RespState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The RESP-speaking [[RespKVStore]] — the K1 sink over the actual Redis
  * wire protocol — against the in-process [[RespServer]] stub. The wire
  * format itself is pinned byte-for-byte (what redis-cli would send), so
  * pointing the client at a real Redis requires zero code change. */
class RespKVStoreSpec extends SparkSpec {
  import spark.implicits._

  private def wire(time: String, fee: Long, flag: String): String =
    s"""{"time":"$time","userId":"7","courseId":"42","fee":"$fee","flag":"$flag","orderId":"x"}"""

  test("RESP wire fidelity: handcrafted redis-cli bytes get exact replies") {
    val server = new RespServer()
    server.start()
    try {
      val sock = new java.net.Socket("127.0.0.1", server.port)
      val out = sock.getOutputStream
      val in = sock.getInputStream
      def send(bytes: String): Unit = { out.write(bytes.getBytes(UTF_8)); out.flush() }
      def recv(n: Int): String = {
        val b = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val r = in.read(b, off, n - off)
          assert(r >= 0, "server closed early")
          off += r
        }
        new String(b, UTF_8)
      }
      // exactly what `redis-cli HINCRBY k f 5` puts on the wire
      send("*4\r\n$7\r\nHINCRBY\r\n$1\r\nk\r\n$1\r\nf\r\n$1\r\n5\r\n")
      assert(recv(4) == ":5\r\n")
      send("*4\r\n$7\r\nHINCRBY\r\n$1\r\nk\r\n$1\r\nf\r\n$2\r\n-2\r\n")
      assert(recv(4) == ":3\r\n")
      // HGETALL → flat field/value bulk array, exactly RESP-framed
      send("*2\r\n$7\r\nHGETALL\r\n$1\r\nk\r\n")
      assert(recv(18) == "*2\r\n$1\r\nf\r\n$1\r\n3\r\n")
      // PING and an unknown command
      send("*1\r\n$4\r\nPING\r\n")
      assert(recv(7) == "+PONG\r\n")
      send("*1\r\n$5\r\nBOGUS\r\n")
      val err = { // error line is variable-length: read to CRLF
        val sb = new StringBuilder
        var c = in.read()
        while (c != '\n') { sb.append(c.toChar); c = in.read() }
        sb.toString
      }
      assert(err.startsWith("-ERR"), err)
      sock.close()
      // malformed framing: a non-array command (inline or another RESP
      // type), a negative or non-numeric bulk length, a nested array and
      // a bulk without its CRLF each get `-ERR Protocol error` and a
      // closed connection, and the server keeps serving new clients
      Seq("PING\r\n", "+PING\r\n", "*1\r\n$-1\r\n", "*2\r\n$4\r\nPING\r\n$-7\r\n",
          "*1\r\n$x\r\n", "*1\r\n*1\r\n$4\r\nPING\r\n", "*1\r\n$4\r\nPINGxx"
      ).foreach { bad =>
        val s = new java.net.Socket("127.0.0.1", server.port)
        s.getOutputStream.write(bad.getBytes(UTF_8)); s.getOutputStream.flush()
        val reply = new String(s.getInputStream.readAllBytes(), UTF_8)
        assert(reply.startsWith("-ERR Protocol error") && reply.endsWith("\r\n") &&
          reply.indexOf('\n') == reply.length - 1, s"${bad.trim}: $reply")
        s.close()
      }
      val again = new java.net.Socket("127.0.0.1", server.port)
      again.getOutputStream.write("*1\r\n$4\r\nPING\r\n".getBytes(UTF_8))
      val pong = new Array[Byte](7)
      assert(again.getInputStream.readNBytes(pong, 0, 7) == 7 &&
        new String(pong, UTF_8) == "+PONG\r\n")
      again.close()
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("client round trip: binary-unsafe keys and fields survive RESP framing") {
    // RESP bulk strings are length-prefixed, never parsed — spaces,
    // CRLFs, unicode, and empty strings must all pass through unharmed
    // (RESP is binary-safe natively, no escaping needed)
    val server = new RespServer()
    server.start()
    try {
      val store = new RespKVStore("127.0.0.1", server.port)
      val key = "day stats\r\n2024-03-01 ✓"
      assert(store.hincrBy(key, "total orders", 2L) == 2L)
      assert(store.hincrBy(key, "", 7L) == 7L)          // empty field
      assert(store.hincrBy(key, "total orders", 3L) == 5L)
      assert(store.hgetAll(key) == Map("total orders" -> 5L, "" -> 7L))
      assert(store.hgetAll("absent") == Map.empty)
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("markBatch/batchSeen map to SADD/SISMEMBER on the applied set") {
    val server = new RespServer()
    server.start()
    try {
      val store = new RespKVStore("127.0.0.1", server.port)
      assert(!store.batchSeen(0L))
      assert(store.markBatch(0L))      // SADD → 1: newly added
      assert(!store.markBatch(0L))     // SADD → 0: already present
      assert(store.batchSeen(0L))
      assert(!store.batchSeen(1L))
      // the applied set is a named Redis set, visible server-side
      assert(server.state.sismember("graft:applied_batches", "0"))
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("per-JVM connection reuse: many calls, ONE accepted connection") {
    val server = new RespServer()
    server.start()
    try {
      val store = new RespKVStore("127.0.0.1", server.port)
      (1 to 50).foreach(i => store.hincrBy("k", "f", 1L))
      store.hgetAll("k"); store.markBatch(9L); store.batchSeen(9L)
      assert(server.accepted == 1,
        s"expected one pooled connection, server accepted ${server.accepted}")
      // the handle survives java serialization like any task closure and
      // keeps using the same JVM-pooled connection
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(store); oos.close()
      val copy = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[RespKVStore]
      assert(copy.hgetAll("k") == Map("f" -> 50L))
      assert(server.accepted == 1)
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("a server restart does not poison the pooled RESP connection") {
    val server = new RespServer()
    server.start()
    val port = server.port
    try {
      val store = new RespKVStore("127.0.0.1", port)
      assert(store.hincrBy("k", "f", 1L) == 1L)
      server.stop()
      intercept[Exception](store.hincrBy("k", "f", 1L))
      // At-least-once window: stop() may kill the socket after the
      // handler already applied the in-flight HINCRBY — the client sees
      // a dead connection (the intercept above) while the write landed.
      // That is exactly the applied-but-unacknowledged semantics the
      // sink's idempotent-batch protocol exists to absorb, so the spec
      // asserts against the SURVIVING server state, not a fixed count.
      val observed = server.state.hgetAll("k").getOrElse("f", 0L)
      assert(observed == 1L || observed == 2L,
        s"surviving count must be 1 (lost) or 2 (applied-unacked), got $observed")
      // new server, same endpoint: the failed call evicted the dead
      // connection, so this reconnects — over the surviving state.
      // The same at-least-once window applies to the READ above: the
      // killed handler may apply its in-flight HINCRBY after `observed`
      // was sampled, so the reconnect increment may land on observed+1
      // (seen under heavy host contention: 7 != 6).
      val server2 = new RespServer(fixedPort = port, backing = server.state)
      server2.start()
      try {
        val after = store.hincrBy("k", "f", 5L)
        assert(after == observed + 5L || after == observed + 6L,
          s"reconnect increment read $after; expected ${observed + 5L} " +
            s"(or +1 for an applied-unacked write landing after the read)")
      } finally server2.stop()
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("e2e: OrderStreamPipeline drives RESP across micro-batches, " +
       "idempotent replay skips applied batches") {
    implicit val sqlCtx = spark.sqlContext
    val server = new RespServer()
    server.start()
    try {
      val store = new RespKVStore("127.0.0.1", server.port)
      val pipeline = new OrderStreamPipeline(store, "n-ko-", true)
      val input = MemoryStream[String]
      val ckpt = Files.createTempDirectory("ckpt-resp").toString
      val q = pipeline.start(input.toDF(), ckpt,
        Trigger.ProcessingTime("50 milliseconds"))
      input.addData(
        wire("2024-03-01 10:00:00", 100, "1"),
        wire("2024-03-01 11:00:00", 50, "0"))
      q.processAllAvailable()
      assert(store.hgetAll("n-ko-2024-03-01") ==
        Map("total" -> 2L, "success" -> 1L, "fee" -> 100L))
      input.addData(
        wire("2024-03-01 12:00:00", 30, "1"),
        wire("2024-03-02 00:00:01", 7, "1"))
      q.processAllAvailable()
      q.stop()
      assert(store.hgetAll("n-ko-2024-03-01") ==
        Map("total" -> 3L, "success" -> 2L, "fee" -> 130L))
      assert(store.hgetAll("n-ko-2024-03-02") ==
        Map("total" -> 1L, "success" -> 1L, "fee" -> 7L))
      // replay of an applied batch id is a no-op over the RESP wire
      val batch = Seq(wire("2024-03-01 10:00:00", 100, "1")).toDF("value")
      pipeline.applyBatch(batch, 0L)
      assert(store.hgetAll("n-ko-2024-03-01") ==
        Map("total" -> 3L, "success" -> 2L, "fee" -> 130L))
      // a multi-partition apply: several tasks share the JVM-pooled
      // connection, and its replay is again skipped
      val spread = Seq(
        wire("2024-05-01 09:00:00", 40, "1"),
        wire("2024-05-01 10:00:00", 25, "0"),
        wire("2024-05-02 08:00:00", 11, "1")).toDF("value").repartition(3)
      (1 to 2).foreach { _ =>
        pipeline.applyBatch(spread, 10L)
        assert(server.state.hgetAll("n-ko-2024-05-01") ==
          Map("total" -> 2L, "success" -> 1L, "fee" -> 40L))
        assert(server.state.hgetAll("n-ko-2024-05-02") ==
          Map("total" -> 1L, "success" -> 1L, "fee" -> 11L))
      }
    } finally { server.stop(); RespKVStore.resetConnections() }
  }
}
