package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Expected values pinned in `pinned.json` for the fixed corpus: each
  * analytics query's `(rows, digest)`, and the digest of the serving
  * rankings of the fixed query pool. */
object Pinned {
  private lazy val json = new ObjectMapper().readTree(
    getClass.getResourceAsStream("/pinned.json"))

  lazy val analytics: Map[String, (Long, String)] =
    json.get("analytics").fields().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asText())
    }.toMap

  lazy val servingDigest: String = json.get("search-single").asText()

  /** The expected rankings, as the batch route gave them, must match the
    * pinned digest. */
  def checkServing(ctx: Ctx, expected: Map[String, Vector[Hit]]): Unit = {
    val d = Check.digest(expected)
    ctx.checks.record(
      if (d == servingDigest) Right(()) else Left(s"rankings digest $d, pinned $servingDigest"))
  }
}
