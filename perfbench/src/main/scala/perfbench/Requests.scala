package perfbench

/** The seeded request stream. Query texts come from one fixed pool of
  * [[PoolSize]] distinct strings of 3 distinct vocabulary words (fixed
  * like the corpus, so every seed asks for the same work mix); the run's
  * seed drives which of them each request sends, with Zipf(s = [[ZipfS]])
  * skew over the pool's order, so some queries repeat often and the rest
  * form a long tail. Each client draws from its own generator; routes are
  * taken round-robin from a per-client offset, so every run sends the
  * same route mix. */
object Requests {
  val PoolSize = 64
  val ZipfS = 0.5

  val pool: IndexedSeq[String] = {
    val rnd = new scala.util.Random(DataGen.DataSeed)
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < PoolSize)
      out += rnd.shuffle(DataGen.Vocab).take(3).mkString(" ")
    out.toIndexedSeq
  }

  /** Cumulative Zipf weights over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def sample(rnd: scala.util.Random): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Per-client streams of (route, query): request i of client c uses
    * route `routes((c + i) % routes.size)`. */
  final class Stream(seed: Long, clients: Int, routes: IndexedSeq[String]) {
    val queries: IndexedSeq[String] = pool
    private val zipf = new Zipf(queries.size, ZipfS)
    private val rnds = Array.tabulate(clients)(c => new scala.util.Random(seed * 7919 + c))

    def next(client: Int, i: Int): (String, String) =
      (routes((client + i) % routes.size), queries(zipf.sample(rnds(client))))
  }
}
