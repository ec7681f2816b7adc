package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The native heap-merge BPE encoder: bit-identical to the replace
  * chain on any well-formed table (hand traces + property sweep),
  * table validation, and the production-size claim — 1,500- and
  * 8,000-rule tables end to end. */
class BpeEncodeSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  /** Reference replace chain, the EXACT semantics of the oracle's
    * [[BpeTokenizer.oracleEncodeSql]]: frame every char, then one
    * literal left-to-right non-overlapping replace pass per rule in
    * rank order (java.lang.String.replace == DuckDB replace). */
  private def chainEncode(word: String, merges: Seq[(String, String)]): String =
    merges.foldLeft(word.map(c => s"|$c|").mkString) {
      case (acc, (l, r)) => acc.replace(s"|$l||$r|", s"|$l$r|")
    }

  private def native(word: String, merges: Seq[(String, String)]): String =
    BpeEncode.encodeWord(UTF8String.fromString(word),
      new BpeEncode.Table(merges)).toString

  test("hand traces on the gated table") {
    val m = BpeTokenizer.Merges
    for (w <- Seq("", "a", "the", "thethe", "nation", "international",
        "ingestion", "zzz", "aaaa", "qqq", "understanding"))
      assert(native(w, m) == chainEncode(w, m), s"word '$w'")
  }

  test("overlapping-run semantics: one non-overlapping pass per rank") {
    val m = Seq("a" -> "a") // |a||a| -> |aa|
    assert(native("aaa", m) == "|aa||a|")
    assert(native("aaaa", m) == "|aa||aa|")
    assert(native("aaaaa", m) == "|aa||aa||a|")
    assert(chainEncode("aaaa", m) == "|aa||aa|") // the reference agrees
  }

  test("later rule building on earlier output, interleaved ranks") {
    val m = Seq("b" -> "c", "a" -> "bc", "a" -> "b")
    // bc merges first (rank 0), then a+bc (rank 1); rule (a,b) never
    // fires because b was consumed — exactly the chain's pass order
    assert(native("abc", m) == "|abc|")
    assert(native("ab", m) == "|ab|") // here (a,b) does fire
    assert(native("abc", m) == chainEncode("abc", m))
    assert(native("ab", m) == chainEncode("ab", m))
  }

  test("property: native == chain on random words over the gated table") {
    val words = Gen.listOf(Gen.oneOf(('a' to 'z') :+ 'e' :+ 't' :+ 'i'))
      .map(_.mkString)
    check(Prop.forAll(words) { w =>
      native(w, BpeTokenizer.Merges) == chainEncode(w, BpeTokenizer.Merges)
    })
  }

  test("ill-formed tables are rejected loudly, not encoded differently") {
    // rule 0 references 'xy', which no earlier rule produced
    val e = intercept[IllegalArgumentException] {
      new BpeEncode.Table(Seq("xy" -> "z"))
    }
    assert(e.getMessage.contains("neither a char nor an earlier output"))
    // duplicate pair keeps its first rank (later duplicate = chain no-op)
    val dup = Seq("a" -> "b", "a" -> "b")
    assert(native("abab", dup) == chainEncode("abab", dup))
  }

  /** A well-formed 1,500-rule vocabulary: all 676 char pairs, then 824
    * three-char extensions — the shape of a real trained table. */
  private lazy val bigTable: Seq[(String, String)] =
    BpeTables.synthetic(1500)

  test("1,500-rule table: native encodes; equals the reference chain") {
    assert(bigTable.size == 1500)
    val words = Gen.listOf(Gen.oneOf('a' to 'z')).map(_.mkString)
    check(Prop.forAll(words) { w => native(w, bigTable) == chainEncode(w, bigTable) })
    // layer-2 rules really fire: abc -> ab (rank 1) -> abc (layer 2)
    assert(native("abc", bigTable) == "|abc|")
    assert(native("abcabc", bigTable) == "|abc||abc|")
  }

  test("spec round-trip: toSpec/parseSpec are inverse") {
    assert(BpeEncode.parseSpec(BpeEncode.toSpec(bigTable)) == bigTable)
    assert(BpeEncode.parseSpec(BpeEncode.toSpec(BpeTokenizer.Merges)) ==
      BpeTokenizer.Merges)
    intercept[IllegalArgumentException](BpeEncode.parseSpec("ab"))
  }

  test("SQL surface bpe_encode matches the chain column on real words") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val out = Seq("the", "international", "understanding", "x")
      .toDF("w")
      .select($"w", GraftFunctions.bpeEncode($"w").as("native"))
      .collect()
    out.foreach(r =>
      assert(r.getString(1) == chainEncode(r.getString(0), BpeTokenizer.Merges), r.getString(0)))
  }

  test("native encodes an 8,000-rule production-size table end to end") {
    // a rank-order replace chain builds one nested expression node per
    // rule, and Catalyst's recursive tree walks overflow the stack at
    // this size (the BpeProf probe, last in commit 7fdb09f, measured a
    // StackOverflowError at 1,500 and 8,000 rules); the native form
    // ships the table as one plan constant.
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val huge = BpeTables.synthetic(8000)
    val nativeOut = Seq("abcabc").toDF("w").select(
      GraftFunctions.bpeEncode($"w", BpeEncode.toSpec(huge))).collect()
    assert(nativeOut.head.getString(0) == "|abc||abc|")
  }

  test("2-arg SQL surface runs the 1,500-rule table end to end") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val spec = BpeEncode.toSpec(bigTable)
    val out = Seq("abcabc", "zyx", "hello").toDF("w")
      .select($"w", GraftFunctions.bpeEncode($"w", spec).as("e"))
      .collect()
    out.foreach(r =>
      assert(r.getString(1) == chainEncode(r.getString(0), bigTable), r.getString(0)))
    // a junk spec is rejected loudly at analysis (table validation)
    val err = intercept[Exception] {
      Seq("a").toDF("w").select(GraftFunctions.bpeEncode($"w", "not a rule"))
        .collect()
    }
    assert(err.getMessage.contains("neither a char nor an earlier output"))
  }
}
