package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pins the merge-loop semantics on hand-traced words through the
  * production encoder (`bpe_encode` over [[BpeTokenizer.Merges]]); the
  * oracle gate (q_bpe_tokens) then proves it against the generated
  * replace chain corpus-wide. */
class BpeTokenizerSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def enc(words: String*): Seq[(String, String, Long)] = {
    import spark.implicits._
    words.toDF("w")
      .select($"w", GraftFunctions.bpeEncode($"w").as("e"))
      .select($"w", $"e", BpeTokenizer.tokenCount($"e").as("n"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  test("ranked merges compose: 'the' collapses via th then th+e") {
    // |t||h||e| --(t,h)--> |th||e| --(th,e)--> |the|
    assert(enc("the") == Seq(("the", "|the|", 1L)))
  }

  test("hand-traced merges over mixed words") {
    val out = enc("thin", "sort", "window").map(x => (x._1, x._3)).toMap
    // thin: |t||h||i||n| -> |th||i||n| -> |th||in|  (2 tokens)
    assert(out("thin") == 2L)
    // sort: |s||o||r||t| -> (o,r) -> |s||or||t|     (3 tokens)
    assert(out("sort") == 3L)
    // window: |w||i||n||d||o||w| -> (i,n) -> |w||in||d||o||w|
    // (5 tokens; (n,d) cannot fire: n is inside token 'in' and the
    // pattern needs a '|' before it)
    assert(out("window") == 5L)
  }

  test("left-to-right greedy within one rule") {
    // |t||t||h| : rule (t,h) matches at the SECOND t -> |t||th|
    assert(enc("tth").head._2 == "|t||th|")
    // |l||l||l| : no rule touches l-l -> stays 3 tokens
    assert(enc("lll").head._3 == 3L)
  }

  test("one pass merges every disjoint occurrence (unit framing)") {
    // |i||n||i||n| : both (i,n) pairs merge in ONE pass because unit
    // framing means the matches share no characters.
    assert(enc("inin").head._2 == "|in||in|")
    assert(enc("inin").head._3 == 2L)
  }

  test("oracle SQL is generated from the same table (spot-check shape)") {
    val sql = BpeTokenizer.oracleEncodeSql("w")
    assert(sql.contains("replace(") && sql.contains("'|t||h|'") &&
      sql.contains("'|th||e|'") && sql.contains("regexp_replace(w"))
    assert(BpeTokenizer.Merges.size == 40)
  }
}
