package graft.io

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, URI}

/** Minimal dependency-free HTTP GET with the reference sync's retry
  * discipline (`Task_1_sync_bls_files.py:36-74`):
  *
  *  - persistent header set including a browser-shaped `User-Agent`
  *    (the BLS endpoint 403s default library agents);
  *  - up to `maxRetries` attempts;
  *  - HTTP 403 → wait `retryDelay`, DOUBLE the delay (exponential
  *    backoff), and first touch `courtesyUrl` (the reference re-visits
  *    the site root to re-establish the session) before retrying;
  *  - transport errors (connect/read failures) → wait the CURRENT
  *    delay and retry (no backoff growth — reference parity);
  *  - any other non-200 status, or retries exhausted → `None`
  *    (the reference returns an empty file list rather than raising —
  *    a scheduled sync must degrade to "no-op pass", not crash).
  *
  * Driver-side, catalog-sized use only (one index page + a bounded
  * fetch set); bulk data movement belongs to the distributed
  * binaryFile read of [[Catalog.listFiles]]. `sleep` is injectable so
  * specs can assert the backoff schedule without wall-clock waits.
  */
object Http {

  /** (delays observed, in ms) is communicated via `sleep` — tests pass
    * a recorder; production leaves the default `Thread.sleep`.
    */
  def fetchBytes(url: String,
                 maxRetries: Int = 3,
                 retryDelayMs: Long = 5000L,
                 courtesyUrl: Option[String] = None,
                 headers: Map[String, String] = defaultHeaders,
                 timeoutMs: Int = 30000,
                 sleep: Long => Unit = Thread.sleep): Option[Array[Byte]] = {
    var delay = retryDelayMs
    var attempt = 0
    while (attempt < maxRetries) {
      try {
        val conn = open(url, headers, timeoutMs)
        val code = conn.getResponseCode
        if (code == 200) {
          try return Some(readAll(conn.getInputStream))
          finally conn.disconnect()
        }
        conn.disconnect()
        if (code == 403) {
          // reference: sleep, touch the site root to re-establish the
          // session, exponential backoff — only when retries remain
          if (attempt < maxRetries - 1) {
            sleep(delay)
            courtesyUrl.foreach { cu =>
              try {
                val c = open(cu, headers, timeoutMs)
                c.getResponseCode
                c.disconnect()
              } catch { case scala.util.control.NonFatal(_) => () }
            }
            delay *= 2
          }
        } else {
          // reference: any other status is terminal — no retry
          return None
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          // reference: transport error waits the current delay (no
          // backoff growth) when retries remain, else gives up
          if (attempt < maxRetries - 1) sleep(delay)
      }
      attempt += 1
    }
    None
  }

  def fetchString(url: String,
                  maxRetries: Int = 3,
                  retryDelayMs: Long = 5000L,
                  courtesyUrl: Option[String] = None,
                  headers: Map[String, String] = defaultHeaders,
                  timeoutMs: Int = 30000,
                  sleep: Long => Unit = Thread.sleep): Option[String] =
    fetchBytes(url, maxRetries, retryDelayMs, courtesyUrl, headers,
      timeoutMs, sleep).map(new String(_, java.nio.charset.StandardCharsets.UTF_8))

  /** The reference's session headers (`Task_1_sync_bls_files.py:15-28`
    * shape): a browser UA plus standard accept headers.
    */
  val defaultHeaders: Map[String, String] = Map(
    "User-Agent" -> ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) " +
      "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0 Safari/537.36"),
    "Accept" -> "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
    "Accept-Language" -> "en-US,en;q=0.9")

  private def open(url: String, headers: Map[String, String],
                   timeoutMs: Int): HttpURLConnection = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    conn
  }

  private def readAll(in: InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    try {
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    out.toByteArray
  }
}
