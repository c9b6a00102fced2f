package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

object Json {
  val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)
  def str(s: String): String = mapper.writeValueAsString(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]; NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Seeded sampler over `n` ranks with Zipf(s) weights: rank 0 is the
  * hottest. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def draw(rng: scala.util.Random): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** One request as a client sees it. */
final case class Call(status: Int, body: String, ms: Double, startNs: Long)

/** A closed-loop HTTP client: each call waits for its reply. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")

  def send(method: String, path: String, body: String = null): Call = {
    val b = HttpRequest.newBuilder(uri(path))
      .timeout(Duration.ofSeconds(120))
    val req = method match {
      case "GET" => b.GET().build()
      case "DELETE" => b.DELETE().build()
      case _ => b.method(method, HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build()
    }
    val t0 = System.nanoTime()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    Call(r.statusCode(), r.body(), (System.nanoTime() - t0) / 1e6, t0)
  }
}

object Loops {
  /** Runs `f(i)` for i < `n` on `n` threads at once; waits for all. */
  def concurrently(n: Int)(f: Int => Unit): Unit = {
    val threads = (0 until n).map { i =>
      val t = new Thread(() => f(i), s"perfbench-thread-$i")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** One closed-loop client: runs `seconds / nominal` whole `cycle`s, at
    * least one, where `nominal` is the seconds one cycle took on the
    * machine the benchmark was sized on (4 cores). Every run sends the
    * same requests and measures the same stretch of the JVM's warm-up,
    * so a faster program finishes sooner instead of sending more. Returns
    * the seconds the cycles took. */
  def cycles(seconds: Double, nominal: Double)(cycle: => Unit): Double = {
    val t0 = System.nanoTime()
    for (_ <- 0 until math.max(1, math.round(seconds / nominal).toInt))
      cycle
    (System.nanoTime() - t0) / 1e9
  }
}
