package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Byte-level BPE: the GPT-2 remap pinned against its public
  * construction, encode bit-identical to the chain replay over the
  * remapped text, and decode ∘ encode = identity on arbitrary
  * unicode (the q_bpe_roundtrip claim, property-swept here). */
class ByteBpeSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def native(word: String, merges: Seq[(String, String)]): String =
    BpeEncodeBytes.encodeBytes(UTF8String.fromString(word),
      new BpeEncode.Table(merges)).toString

  private def decode(enc: String): String =
    BpeDecodeBytes.decodeBytes(UTF8String.fromString(enc)).toString

  /** Chain reference over the REMAPPED string (remap chars are single
    * BMP code points, so per-char framing is per-code-point). */
  private def chainEncode(word: String, merges: Seq[(String, String)]): String =
    merges.foldLeft(ByteBpe.remap(word).map(c => s"|$c|").mkString) {
      case (acc, (l, r)) => acc.replace(s"|$l||$r|", s"|$l$r|")
    }

  test("remap pins: the public GPT-2 bytes_to_unicode assignments") {
    assert(ByteBpe.remap("a") == "a") // printable bytes are fixed points
    assert(ByteBpe.remap("!~") == "!~")
    assert(ByteBpe.remap(" ") == "Ġ") // 0x20 → U+0120, the space marker
    assert(ByteBpe.remap("\n") == "Ċ") // 0x0A → U+010A
    assert(ByteBpe.remap("\u0000") == "Ā") // 0x00 → U+0100 (first gap byte)
    assert(ByteBpe.remap("é") == "Ã©") // C3 A9, both printable high bytes
    assert(ByteBpe.remap("日") == "æĹ¥") // E6 97 A5 (0x97 → U+0139+1)
    // the famous GPT-2 mojibake for U+1F600 (F0 9F 98 80)
    assert(ByteBpe.remap("😀") == "ðŁĺĢ")
  }

  test("unremap is the exact inverse on arbitrary unicode") {
    val strs = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', 'é', 'ß', '日', '語', 'Ω', '\n', '\t'),
      Gen.oneOf("😀", "𝄞", "🦾").map(_.charAt(0)), // lone surrogates excluded below
      Gen.choose(' ', '⿿'))).map(_.mkString)
      .map(s => s.filter(c => !Character.isSurrogate(c)) + "😀𝄞")
    check(Prop.forAll(strs) { s => ByteBpe.unremap(ByteBpe.remap(s)) == s })
  }

  test("unremap rejects chars outside the remap image, loudly") {
    val e = intercept[IllegalArgumentException](ByteBpe.unremap("日"))
    assert(e.getMessage.contains("not a remap-alphabet char"))
    // remap-image chars whose bytes are NOT valid UTF-8 (a lone 0xC3
    // lead byte) must also fail loudly — never U+FFFD substitution
    // (review r17)
    val e2 = intercept[IllegalArgumentException](ByteBpe.unremap("Ã"))
    assert(e2.getMessage.contains("not valid UTF-8"))
    val e3 = intercept[IllegalArgumentException](
      BpeDecodeBytes.decodeBytes(UTF8String.fromString("|Ã|")))
    assert(e3.getMessage.contains("not valid UTF-8"))
  }

  test("the gated byte table is well-formed and covers 2/3/4-byte sequences") {
    val t = new BpeEncode.Table(ByteBpe.Merges)
    assert(t.size >= 40, s"table collapsed to ${t.size} distinct pairs")
    // full-char tokens really assemble
    assert(native("é", ByteBpe.Merges) == s"|${ByteBpe.remap("é")}|")
    assert(native("日本語", ByteBpe.Merges) == s"|${ByteBpe.remap("日本語")}|")
    assert(native("😀", ByteBpe.Merges) == s"|${ByteBpe.remap("😀")}|")
    assert(native(" 😀", ByteBpe.Merges) == s"|${ByteBpe.remap(" 😀")}|")
  }

  test("table validation accepts a single NON-BMP code point side (r16 advice)") {
    // "😀" is 2 UTF-16 units but ONE code point — a valid atomic rule
    // side for the code-point encoder; the old l.length == 1 check
    // wrongly rejected it
    val t = new BpeEncode.Table(Seq(("😀", "a")))
    assert(t.size == 1)
    assert(BpeEncode.encodeWord(UTF8String.fromString("😀a"),
      t).toString == "|😀a|")
    // a multi-code-point side with no earlier producer is still rejected
    val e = intercept[IllegalArgumentException](
      new BpeEncode.Table(Seq(("😀a", "b"))))
    assert(e.getMessage.contains("neither a char nor an earlier output"))
  }

  test("hand traces: native == chain replay over the remapped text") {
    val m = ByteBpe.Merges
    for (w <- Seq("", "the", " the café", "日本語 text", "Ωμέγα", "😀 and 𝄞",
        "straße", "naïve niño", "mixed 日本 😀 end"))
      assert(native(w, m) == chainEncode(w, m), s"input '$w'")
  }

  test("property: native == chain on random multilingual strings") {
    val piece = Gen.oneOf("the", "in", "an", " t", "café", "é", "ñ", "日", "本",
      "日本語", "Ω", "😀", "𝄞", " ", "x", "q")
    val strs = Gen.listOf(piece).map(_.mkString)
    check(Prop.forAll(strs) { w =>
      native(w, ByteBpe.Merges) == chainEncode(w, ByteBpe.Merges)
    })
  }

  test("property: decode(encode(x)) == x on random multilingual strings") {
    val piece = Gen.oneOf("the café", "日本語", "Ω μ", "😀", "𝄞", "\n", "\t",
      "ascii", " ", "ß")
    val strs = Gen.listOf(piece).map(_.mkString)
    check(Prop.forAll(strs) { w =>
      decode(native(w, ByteBpe.Merges)) == w
    })
  }

  test("encoder rejects the frame delimiter in input, loudly") {
    val e = intercept[IllegalArgumentException](native("a|b", ByteBpe.Merges))
    assert(e.getMessage.contains("frame delimiter"))
  }

  test("SQL surface: bpe_encode_bytes/bpe_decode_bytes round-trip end to end") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val out = Seq("the café", "日本語のテキスト", "emoji 😀 end", "plain")
      .toDF("w")
      .select($"w",
        GraftFunctions.bpeEncodeBytes($"w").as("enc"),
        GraftFunctions.bpeDecodeBytes(GraftFunctions.bpeEncodeBytes($"w")).as("dec"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == chainEncode(r.getString(0), ByteBpe.Merges), r.getString(0))
      assert(r.getString(2) == r.getString(0), r.getString(0))
    }
  }

  test("2-arg SQL surface runs a 1,500-rule byte-level table") {
    // lowercase a–z are remap fixed points, so the synthetic
    // code-point table is also a valid byte-level table — the
    // production-size path the chain form cannot compile
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val big = BpeTables.synthetic(1500)
    val spec = BpeEncode.toSpec(big)
    val out = Seq("abcabc", "hello 日本").toDF("w")
      .select(GraftFunctions.bpeEncodeBytes($"w", spec).as("e"))
      .as[String].collect()
    assert(out(0) == "|abc||abc|")
    // the multibyte tail stays atomic remap chars under an a–z table
    assert(decode(out(1)) == "hello 日本")
  }
}
