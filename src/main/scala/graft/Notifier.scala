package graft

import scala.util.control.NonFatal

/** Notification sink (SURVEY.md §2 O17). The reference POSTs JSON
  * `{"text": ...}` to a Slack webhook at every stage boundary
  * (`gule_test_job.py:77,102,110,188,198,215,220`). The engine keeps
  * the semantics (a fire-and-forget text message per event) behind a
  * trait: production would supply an HTTP implementation; this
  * zero-egress environment ships stdout and in-memory ones.
  *
  * Reference wrinkle kept: a FAILING notifier is never fatal to the
  * pipeline (`gule_test_job.py:195-199`) — callers use [[notifySafe]].
  */
trait Notifier {
  def notify(text: String): Unit

  /** Notification failures are logged, not propagated (O17's
    * "Slack-failure warning is non-fatal" branch). Fatal VM errors and
    * interrupts (a cancelled [[HttpNotifier]] send) still propagate.
    */
  final def notifySafe(text: String): Unit =
    try notify(text)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[notifier] delivery failed (non-fatal): ${Notifier.describe(e)}")
    }
}

object Notifier {
  /** `Class: message` — a bare getMessage can be as unhelpful as
    * "org.mariadb.jdbc.Driver" (ClassNotFound), or null.
    */
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
}

/** Default implementation: one line per message on stdout. */
final class StdoutNotifier extends Notifier {
  def notify(text: String): Unit = println(s"[notify] $text")
}

/** Test implementation: records every message. */
final class RecordingNotifier extends Notifier {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
  def notify(text: String): Unit = synchronized { buf += text }
  def messages: Seq[String] = synchronized(buf.toList)
}

/** Test implementation: always throws, to exercise the non-fatal
  * delivery-failure path.
  */
final class FailingNotifier extends Notifier {
  def notify(text: String): Unit =
    throw new RuntimeException("notification endpoint unreachable")
}

/** Production implementation: POSTs `{"text": ...}` to a webhook URL —
  * the reference's Slack-shaped delivery (`gule_test_job.py:77,188`).
  * JDK `java.net.http` and Spark's Jackson, no extra dependency; never constructed
  * by default (the pipeline defaults to [[StdoutNotifier]]), so no
  * egress is attempted unless a deployment explicitly configures a URL.
  * Failures propagate as exceptions; callers go through
  * [[Notifier.notifySafe]], which keeps delivery non-fatal.
  */
final class HttpNotifier(
    url: String,
    timeout: java.time.Duration = java.time.Duration.ofSeconds(5)) extends Notifier {

  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(timeout).build()

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  def notify(text: String): Unit = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(timeout)
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
        s"""{"text": ${json.writeValueAsString(text)}}""",
        java.nio.charset.StandardCharsets.UTF_8))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    // the reference treats any non-2xx webhook response as a delivery
    // failure worth a warning (gule_test_job.py:195-199)
    if (resp.statusCode() < 200 || resp.statusCode() >= 300)
      throw new RuntimeException(
        s"webhook returned HTTP ${resp.statusCode()}")
  }
}
