package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {
  private val body =
    """{"query":"spark join","mode":"dense","results":[{"id":4,"score":0.91},{"id":2,"score":0.5}]}"""
  private val hits = Vector(Hit(4, 0.91), Hit(2, 0.5))

  test("single-route and batch-route bodies parse to the same hits") {
    assert(Check.hits(body) == Right(hits))
    val batch = """{"mode":"dense","batch_size":1,"batches":[{"query":"spark join","results":""" +
      """[{"id":4,"score":0.91},{"id":2,"score":0.5}]}]}"""
    assert(Check.batchHits(batch) == Right(Map("spark join" -> hits)))
  }

  test("a deliberately altered response is rejected") {
    assert(Check.same(hits, hits).isRight)
    val altered = Seq(
      body.replace("0.91", "0.9100001"), // score drift
      body.replace("\"id\":4", "\"id\":5"), // wrong document
      body.replace("""{"id":4,"score":0.91},""", ""), // dropped hit
      """{"query":"spark join","results":[{"id":2,"score":0.5},{"id":4,"score":0.91}]}""") // order
    for (a <- altered)
      assert(Check.hits(a).flatMap(Check.same(hits, _)).isLeft, a)
    assert(Check.hits("""{"error":"boom"}""").isLeft)
    assert(Check.hits("not json").isLeft)
    assert(Check.hits("""{"results":[{"id":1}]}""").isLeft)
  }

  test("well-formed rankings: non-empty, at most k, unique ids, scores non-increasing") {
    assert(Check.wellFormed(hits, 10).isRight)
    assert(Check.wellFormed(Vector.empty, 10).isLeft)
    assert(Check.wellFormed(hits, 1).isLeft)
    assert(Check.wellFormed(Vector(Hit(1, 0.5), Hit(1, 0.4)), 10).isLeft)
    assert(Check.wellFormed(hits.reverse, 10).isLeft)
  }

  test("expected detail and fusion rankings follow the routes' rounding and floor") {
    val hybrid = Vector(Hit(9, 0.0331), Hit(1, 0.0329), Hit(3, 0.0312))
    // round(score, 3) half-up ties 9 and 1; (score desc, id asc) then puts 1 first
    assert(Check.expectedSearch(hybrid, 2) == Vector(Hit(1, 0.033), Hit(9, 0.033)))
    assert(Check.expectedSearch(Vector(Hit(4, 0.0325)), 1) == Vector(Hit(4, 0.033)))
    val dense = Vector(Hit(5, 0.8), Hit(2, 0.41), Hit(7, 0.39))
    assert(Check.expectedFusion(dense, 10) == Vector(Hit(5, 0.8), Hit(2, 0.41)))
    assert(Check.expectedFusion(dense, 1) == Vector(Hit(5, 0.8)))
  }

  test("a wrong analytics row count or digest is rejected") {
    val pinned = Map("d4_simhash" -> (1000L, "-65347692772691813247"))
    assert(Check.analytics(pinned, "d4_simhash", 1000, "-65347692772691813247").isRight)
    assert(Check.analytics(pinned, "d4_simhash", 1000, "-65347692772691813246").isLeft)
    assert(Check.analytics(pinned, "d4_simhash", 999, "-65347692772691813247").isLeft)
    assert(Check.analytics(pinned, "t7_redact_pii", 1000, "1").isLeft)
  }

  test("the rankings digest is order-independent over keys and sensitive to any hit") {
    val a = Map("dense|q1" -> hits, "sparse|q1" -> Vector(Hit(3, 1.5)))
    assert(Check.digest(a) == Check.digest(a.toSeq.reverse.toMap))
    assert(Check.digest(a) != Check.digest(a.updated("sparse|q1", Vector(Hit(3, 1.25)))))
  }
}
