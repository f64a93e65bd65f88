package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A blocking JSON-over-HTTP client for one closed-loop thread. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  /** (status, body); a request that fails in transport is status -1. */
  def post(path: String, body: String): (Int, String) =
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(base + path))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    } catch {
      case e: java.io.IOException => (-1, e.toString)
    }
}

/** Reading the engine's response envelopes. */
object Envelope {
  def parse(s: String): JValue = JsonMethods.parse(s)

  /** Ids of a `/data/query` result: `__row_id` on the served path, the
    * primary key `ID` on the job path (the two coincide for this corpus). */
  def ids(v: JValue): Seq[Long] = (v \ "result") match {
    case JArray(rs) => rs.map { r =>
      (r \ "__row_id") match {
        case JInt(i) => i.toLong
        case _ => (r \ "ID") match {
          case JInt(i) => i.toLong
          case other => throw new IllegalStateException(s"result row without id: $other")
        }
      }
    }
    case other => throw new IllegalStateException(s"no result array: $other")
  }

  def served(v: JValue): Boolean = (v \ "served") == JBool(true)

  def batch(v: JValue): Seq[JValue] = (v \ "results") match {
    case JArray(rs) => rs
    case other => throw new IllegalStateException(s"no results array: $other")
  }

  def long(v: JValue, key: String): Long = (v \ "result" \ key) match {
    case JInt(i) => i.toLong
    case other => throw new IllegalStateException(s"no $key: $other")
  }
}
