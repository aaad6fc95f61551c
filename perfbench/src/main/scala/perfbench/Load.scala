package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import com.fasterxml.jackson.databind.JsonNode
import graft.streaming.DetectorLogic

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => math.pow(k.toDouble, -s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def sample(rnd: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** One HTTP/1.1 keep-alive connection to the service. */
final class Conn(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val base = s"http://127.0.0.1:$port"

  def post(body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"$base/deposit"))
      .timeout(Duration.ofSeconds(60)).header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  def check(wallet: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"$base/check/$wallet"))
      .timeout(Duration.ofSeconds(60)).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}

/** The reference semantics a wallet must show after its deposits, each
  * given as (amount, ts_unix) in the order the service absorbed them. */
object Oracle {
  def expected(deposits: Seq[(Double, Long)]): (Double, Boolean) =
    (deposits.map(_._1).sum,
      DetectorLogic.run(deposits)._2.lastOption.exists(!_.flagRemoved))

  /** Compare one `GET /check` body against the oracle; `None` if it matches. */
  def mismatch(wallet: String, status: Int, body: String,
               deposits: Seq[(Double, Long)]): Option[String] = {
    val (balance, flagged) = expected(deposits)
    if (status != 200) Some(s"$wallet: HTTP $status")
    else {
      val n: JsonNode = Json.mapper.readTree(body)
      val gotBal = n.get("balance").asDouble()
      val gotFlag = n.get("above_threshold").asBoolean()
      if (gotBal != balance || gotFlag != flagged)
        Some(s"$wallet: got balance=$gotBal flag=$gotFlag, want balance=$balance flag=$flagged")
      else None
    }
  }
}
