package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.plans.GraftExtensions

/** The native graft_nfc expression must actually compose decomposed
  * sequences (not just pass strings through), be a zero-copy identity on
  * already-normal input, stay null-safe, and register as a SQL function.
  * The Decomposed/Composed literals use explicit \\u escapes so a
  * normalizing editor cannot silently collapse what they assert.
  */
class TextExpressionSpec extends SparkSpec {
  import spark.implicits._

  private val Decomposed = "cafe\u0301"  // e + combining acute: 5 codepoints
  private val Composed = "caf\u00e9"     // precomposed é: 4 codepoints

  test("graft_nfc composes decomposed accents to precomposed form") {
    val df = Seq(Decomposed).toDF("s")
    val out = df.select(T.nfc($"s").as("n"), length(T.nfc($"s")).as("len"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.toSeq === Seq((Composed, 4)))
    assert(Decomposed.length === 5 && Composed.length === 4) // really distinct
  }

  test("graft_nfc is the identity on already-NFC input, null-safe") {
    val df = Seq(Some("plain ascii"), Some(Composed), None).toDF("s")
    val out = df.select(T.nfc($"s")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq === Seq("plain ascii", Composed, null))
  }

  test("graft_nfc agrees between codegen'd plan and direct kernel") {
    val samples = Seq("é", "àb̂c", "Å", "x", "")
    val viaPlan = samples.toDF("s").select(T.nfc($"s")).collect().map(_.getString(0))
    val viaKernel = samples.map(s =>
      graft.plans.NfcCodec.nfc(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString)
    assert(viaPlan.toSeq === viaKernel)
    // and both match java.text.Normalizer ground truth
    assert(viaKernel === samples.map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC)))
  }

  test("graft_nfc callable from SQL after registration; rejects non-string") {
    GraftExtensions.register(spark)
    val n = spark.sql(s"SELECT graft_nfc('é') AS x")
      .collect().head.getString(0)
    assert(n === "é")
    val e = intercept[Exception] {
      Seq(1L).toDF("v").select(T.nfc($"v")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }

  test("graft_jaro_winkler matches the DuckDB-pinned vectors through the plan") {
    // vectors captured from duckdb jaro_winkler_similarity (the oracle
    // engine): clamp-window, empty -> 0, boost only past jaro 0.7
    val cases = Seq(
      ("martha", "marhta", 0.961111),
      ("dixon", "dicksonx", 0.813333),
      ("jellyfish", "smellyfish", 0.896296),
      ("abcdxxxx", "abcdyyyy", 0.666667), // jaro <= 0.7: NO prefix boost
      ("crate", "trace", 0.733333),
      ("a", "", 0.0),
      ("", "", 0.0),                      // duck variant: both-empty = 0
      ("a", "a", 1.0),                    // clamped window still matches
      ("ab", "ba", 0.0),
      ("a", "ab", 0.85),
      ("abc", "abc", 1.0),
      // non-BMP vectors (captured from the same duckdb build): the
      // kernel is UTF-8-BYTE-based — 😀/😁 are 4-byte sequences with a
      // 3-byte shared prefix, scoring 0.883333, not the 0.0 a
      // code-point kernel or 0.666667 a UTF-16 kernel would emit
      ("😀", "😁", 0.883333),
      ("x😀", "x😁", 0.92),
      ("😀😀a", "😀😀b", 0.955556),
      ("naïve𝒳", "naive𝒳", 0.917037)) // NFC ï = 2 bytes, boost stops at "na"
    val out = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(round(T.jaroWinkler($"a", $"b"), 6).as("jw"))
      .collect().map(_.getDouble(0))
    assert(out.toSeq === cases.map(_._3))
    // null-safe and SQL-registered
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_jaro_winkler('martha', 'marhta') AS s")
      .collect().head.getDouble(0) > 0.96)
    val withNull = Seq((Some("x"), Option.empty[String])).toDF("a", "b")
      .select(T.jaroWinkler($"a", $"b")).collect().head
    assert(withNull.isNullAt(0))
  }
}
