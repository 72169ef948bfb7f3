package graft.sources.nsq

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Driver-side admission control via nsqd's public HTTP stats API
  * (`GET /stats?format=json&topic=<t>`). The driver holds no NSQ consumer
  * connections — executors do — so "is there anything left to read?" is
  * answered the way NSQ ops tooling answers it: channel `depth` (queued,
  * undelivered) plus `in_flight_count` (delivered, un-FINned). Outstanding
  * work is their sum; zero across all brokers means every published message
  * has been delivered AND FINned, i.e. the pipeline is quiescent.
  *
  * Handles both the modern flat shape (`{"topics":[...]}`) and the pre-1.0
  * envelope (`{"data":{"topics":[...]}}`), like [[NsqLookupd]].
  */
object NsqStats {

  private val mapper = new ObjectMapper()

  // one client for every poll (each HttpClient starts its own selector
  // thread); each request still carries its own timeout
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(2000)).build()

  private def get(url: String, timeoutMs: Long): String = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMs)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    // a non-200 (nsqd mid-restart, proxy error page) must read as
    // "unreachable", NOT as an empty stats document = zero outstanding
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"$url returned HTTP ${resp.statusCode()}")
    resp.body()
  }

  private def topics(root: JsonNode): JsonNode = {
    val direct = root.path("topics")
    val t = if (direct.isArray) direct else root.path("data").path("topics")
    // an empty/garbage body parses to a missing node; summing it to 0 would
    // falsely report quiescence, so treat an unrecognized shape as an error
    if (!t.isArray)
      throw new java.io.IOException(s"unrecognized nsqd stats shape: ${root.toString.take(200)}")
    t
  }

  /** Outstanding (queued + in-flight) messages for `topic`/`channel` summed
    * over `endpoints` (host, httpPort). `None` if ANY endpoint is
    * unreachable or unparsable — the caller must then assume work exists
    * (availability over quiescence: a broker we can't see may hold data). */
  def outstanding(
      endpoints: Seq[(String, Int)],
      topic: String,
      channel: String,
      timeoutMs: Long = 2000): Option[Long] = {
    var total = 0L
    endpoints.foreach { case (host, port) =>
      try {
        val body = get(s"http://$host:$port/stats?format=json&topic=$topic", timeoutMs)
        val ts = topics(mapper.readTree(body))
        (0 until ts.size()).foreach { i =>
          val t = ts.get(i)
          if (t.path("topic_name").asText("") == topic) {
            val chs = t.path("channels")
            var seen = false
            (0 until chs.size()).foreach { j =>
              val c = chs.get(j)
              if (c.path("channel_name").asText("") == channel) {
                seen = true
                total += c.path("depth").asLong(0L) + c.path("in_flight_count").asLong(0L)
              }
            }
            // messages queued before any consumer created the channel sit at
            // topic depth and will be copied into the channel on SUB
            if (!seen) total += t.path("depth").asLong(0L)
          }
        }
      } catch { case _: Exception => return None }
    }
    Some(total)
  }
}
