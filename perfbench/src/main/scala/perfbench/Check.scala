package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One ranked hit as a search route returns it. */
final case class Hit(id: Long, score: Double)

/** Response parsing and the correctness rules. Pure, so a deliberately
  * altered response or digest can be shown to fail (`CheckSpec`). */
object Check {
  private val mapper = new ObjectMapper()

  private def parse(body: String): Either[String, JsonNode] =
    try Right(mapper.readTree(body))
    catch { case e: Exception => Left(s"unparseable body: ${e.getMessage.take(80)}") }

  private def hitsOf(arr: JsonNode): Either[String, Vector[Hit]] =
    if (arr == null || !arr.isArray) Left("no results array")
    else {
      val hs = arr.elements().asScala.toVector
      if (hs.exists(h => !h.has("id") || !h.has("score"))) Left("hit without id/score")
      else Right(hs.map(h => Hit(h.get("id").asLong(), h.get("score").asDouble())))
    }

  /** Hits of a single-query route (`{"query":..,"results":[..]}`). */
  def hits(body: String): Either[String, Vector[Hit]] =
    parse(body).flatMap(j => hitsOf(j.get("results")))

  /** Per-query hits of `/api/batch-search`. */
  def batchHits(body: String): Either[String, Map[String, Vector[Hit]]] =
    parse(body).flatMap { j =>
      val blocks = j.get("batches")
      if (blocks == null || !blocks.isArray) Left("no batches array")
      else blocks.elements().asScala.foldLeft[Either[String, Map[String, Vector[Hit]]]](
          Right(Map.empty)) { (acc, b) =>
        for (m <- acc; hs <- hitsOf(b.get("results"))) yield m + (b.get("query").asText() -> hs)
      }
    }

  /** Exact agreement with the expected ranking (ids, order and scores). */
  def same(expected: Vector[Hit], actual: Vector[Hit]): Either[String, Unit] =
    if (expected == actual) Right(())
    else Left(s"expected ${expected.take(3).mkString(",")}.. got ${actual.take(3).mkString(",")}..")

  /** A well-formed ranking: non-empty, unique ids, scores non-increasing. */
  def wellFormed(hs: Vector[Hit], k: Int): Either[String, Unit] =
    if (hs.isEmpty) Left("empty result")
    else if (hs.size > k) Left(s"${hs.size} hits > count $k")
    else if (hs.map(_.id).distinct.size != hs.size) Left("duplicate ids")
    else if (hs.zip(hs.drop(1)).exists { case (a, b) => b.score > a.score })
      Left("scores not ranked")
    else Right(())

  private def roundHalfUp(x: Double, places: Int): Double =
    new JBigDecimal(java.lang.Double.toString(x))
      .setScale(places, RoundingMode.HALF_UP).doubleValue()

  private def ranked(hs: Vector[Hit]): Vector[Hit] =
    hs.sortBy(h => (-h.score, h.id))

  /** `/api/search` from the hybrid ranking: the detail shape rounds
    * scores to 3 places and re-sorts (`SearchEngine.resultShape`). */
  def expectedSearch(hybrid: Vector[Hit], k: Int): Vector[Hit] =
    ranked(hybrid.take(k).map(h => h.copy(score = roundHalfUp(h.score, 3))))

  /** `/api/search/fusion` from the dense ranking at 2k: the exact arm is
    * empty for vocabulary queries (no source or lang equals one), so
    * fusion is the dense arm's hits at or above the 0.4 floor. */
  def expectedFusion(dense2k: Vector[Hit], k: Int): Vector[Hit] =
    ranked(dense2k.filter(_.score >= 0.4)
      .map(h => h.copy(score = roundHalfUp(h.score, 6)))).take(k)

  /** Stable hex digest of a keyed set of rankings. */
  def digest(results: Map[String, Vector[Hit]]): String = {
    val canon = results.toSeq.sortBy(_._1).map { case (k, hs) =>
      k + "=" + hs.map(h => s"${h.id}:${h.score}").mkString(",")
    }.mkString("\n")
    sha256(canon)
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** An analytics query's `(rows, digest)` against its pinned value. */
  def analytics(pinned: Map[String, (Long, String)], query: String,
                rows: Long, digest: String): Either[String, Unit] =
    pinned.get(query) match {
      case None => Left(s"$query: no pinned value for ($rows, $digest)")
      case Some((r, d)) if r == rows && d == digest => Right(())
      case Some((r, d)) => Left(s"$query: got ($rows, $digest), pinned ($r, $d)")
    }
}
