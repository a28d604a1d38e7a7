package graft

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** HttpNotifier against a loopback JDK HttpServer — no egress; the
  * webhook contract (JSON `{"text": ...}` POST, non-2xx = delivery
  * failure, notifySafe never fatal) exercised end-to-end.
  */
class HttpNotifierSpec extends AnyFunSuite {

  private def withServer(status: Int)(f: (String, () => Seq[String]) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val bodies = scala.collection.mutable.ArrayBuffer.empty[String]
    server.createContext("/hook", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      bodies.synchronized { bodies += body }
      exchange.sendResponseHeaders(status, 0)
      exchange.getResponseBody.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/hook",
      () => bodies.synchronized(bodies.toList))
    finally server.stop(0)
  }

  test("POSTs the message as JSON text to the webhook") {
    withServer(200) { (url, bodies) =>
      new HttpNotifier(url).notify("job done: 42 rows")
      assert(bodies() === Seq("""{"text": "job done: 42 rows"}"""))
    }
  }

  test("escapes quotes and newlines in the payload") {
    withServer(200) { (url, bodies) =>
      new HttpNotifier(url).notify("line1\nsaid \"hi\"\\end")
      assert(bodies() === Seq("""{"text": "line1\nsaid \"hi\"\\end"}"""))
    }
  }

  test("non-2xx response is a delivery failure; notifySafe stays non-fatal") {
    withServer(500) { (url, bodies) =>
      val n = new HttpNotifier(url)
      val e = intercept[RuntimeException](n.notify("boom"))
      assert(e.getMessage.contains("500"))
      n.notifySafe("boom") // must not throw
      assert(bodies().size === 2)
    }
  }

  test("notifySafe lets an interrupt through (a cancelled send)") {
    val interrupting = new Notifier {
      def notify(text: String): Unit = throw new InterruptedException("send cancelled")
    }
    intercept[InterruptedException](interrupting.notifySafe("lost"))
  }

  test("a failing notifier stays non-fatal and warns as Class: message") {
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, StandardCharsets.UTF_8))
    try new FailingNotifier().notifySafe("lost")
    finally System.setErr(saved)
    assert(err.toString(StandardCharsets.UTF_8).trim ===
      "[notifier] delivery failed (non-fatal): RuntimeException: notification endpoint unreachable")
  }

  test("unreachable endpoint is non-fatal through notifySafe") {
    // port 1 on loopback: connection refused immediately
    new HttpNotifier("http://127.0.0.1:1/hook").notifySafe("lost")
  }
}
