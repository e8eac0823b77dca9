package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One completed operation of a closed-loop client. */
final case class Sample(route: String, ms: Double, outcome: Either[String, Unit])

/** Closed-loop load: each client issues its next operation as soon as the
  * previous one returns. */
object Load {

  /** Run `clients` threads calling `op(client, i)` for i = 0, 1, .. The
    * window lasts `seconds`, and is extended (up to `capSeconds`) until
    * `minSamples` operations have completed, so tail percentiles have the
    * samples beyond them they need. Operations completing after the
    * window closes are awaited but not counted. Returns the window's
    * samples and its length in seconds. */
  def closedLoop(clients: Int, seconds: Double, minSamples: Int, capSeconds: Double)
                (op: (Int, Int) => (String, Either[String, Unit])): (Seq[Sample], Double) = {
    val done = new ConcurrentLinkedQueue[(Long, Sample)]()
    @volatile var stop = false
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (!stop) {
          val s = System.nanoTime()
          val (route, outcome) =
            try op(c, i) catch { case e: Exception => ("error", Left(e.toString.take(120))) }
          val e = System.nanoTime()
          done.add((e, Sample(route, (e - s) / 1e6, outcome)))
          i += 1
        }
      }, s"perfbench-client-$c")
      t.setDaemon(true)
      t.start()
      t
    }
    Thread.sleep((seconds * 1000).toLong)
    while (done.size < minSamples && (System.nanoTime() - t0) / 1e9 < capSeconds)
      Thread.sleep(20)
    val end = System.nanoTime()
    stop = true
    threads.foreach(_.join())
    (done.asScala.toSeq.filter(_._1 <= end).map(_._2), (end - t0) / 1e9)
  }
}

/** A JDK `HttpClient` per load client, so a client holds one connection. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def get(pathAndQuery: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
      .timeout(Duration.ofSeconds(60)).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** GET expecting 200; the body, or why it is not usable. */
  def ok(pathAndQuery: String): Either[String, String] = {
    val (status, body) = get(pathAndQuery)
    if (status == 200) Right(body) else Left(s"HTTP $status: ${body.take(120)}")
  }
}
