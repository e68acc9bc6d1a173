package graft

import graft.clean.CleanFns
import org.apache.spark.sql.functions._

/** Unit tests for the cleaning functions F1-F5 (SURVEY.md §2.4) and the
  * tag-key split R2/R3, pinning the reference's exact semantics including
  * the strict (crash-on-dirty) modes.
  */
class CleanFnsSpec extends SparkSuite {
  import spark.implicits._

  private def clean1(fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column)(in: String): String =
    Seq(in).toDF("raw").select(fn(col("raw")).as("out")).collect()(0).getString(0)

  test("F1 street: mapping rewrites the last token") {
    assert(clean1(CleanFns.street(_))("Main St") == "Main Street")
    assert(clean1(CleanFns.street(_))("Main St.") == "Main Street")
    assert(clean1(CleanFns.street(_))("Quiet Cv") == "Quiet Cove")
    assert(clean1(CleanFns.street(_))("Deer Cc") == "Deer Cove")
    assert(clean1(CleanFns.street(_))("eagle pass") == "eagle Pass")
    assert(clean1(CleanFns.street(_))("Park Terrance") == "Park Terrace")
    assert(clean1(CleanFns.street(_))("lower street") == "lower Street")
  }

  test("F1 street: expected suffixes pass through") {
    assert(clean1(CleanFns.street(_))("Basket Flower Bend") == "Basket Flower Bend")
    assert(clean1(CleanFns.street(_))("Main Street") == "Main Street")
    assert(clean1(CleanFns.street(_))("FM 973") == "FM 973")
  }

  test("F1 street strict: unknown suffix raises (reference KeyError, Step_2:246)") {
    val ex = intercept[Exception] {
      Seq("Weird Xyz").toDF("raw")
        .select(CleanFns.street(col("raw"), strict = true)).collect()
    }
    assert(ex.getMessage.contains("KeyError") || ex.getCause != null)
  }

  test("F2 phone: strip, drop country code, blind slice") {
    assert(clean1(CleanFns.phone)("+1 (512) 281-5440") == "512-281-5440")
    assert(clean1(CleanFns.phone)("512.281.5440") == "512-281-5440")
    assert(clean1(CleanFns.phone)("15122815440") == "512-281-5440")
    // no length check, like the reference: short input → malformed output
    assert(clean1(CleanFns.phone)("12") == "2--")
    assert(clean1(CleanFns.phone)("5122815440123") == "512-281-5440123")
  }

  test("F3 city: first token, Round → Round Rock") {
    assert(clean1(CleanFns.city)("Elgin, TX") == "Elgin")
    assert(clean1(CleanFns.city)("Round Rock") == "Round Rock")
    assert(clean1(CleanFns.city)("Round") == "Round Rock")
    assert(clean1(CleanFns.city)("Cedar-Park, TX") == "Cedar-Park")
  }

  test("F4 postcode: first 5-digit run; strict raises when absent") {
    assert(clean1(CleanFns.postcode(_))("78621-1242") == "78621")
    assert(clean1(CleanFns.postcode(_))("TX 78621") == "78621")
    assert(clean1(CleanFns.postcode(_))("no digits") == "")
    intercept[Exception] {
      Seq("no digits").toDF("raw")
        .select(CleanFns.postcode(col("raw"), strict = true)).collect()
    }
  }

  test("F5 state: only exact TX rewrites") {
    assert(clean1(CleanFns.state)("TX") == "Texas")
    assert(clean1(CleanFns.state)("Texas") == "Texas")
    assert(clean1(CleanFns.state)("CA") == "CA")
    assert(clean1(CleanFns.state)("tx") == "tx")
  }

  test("R2/R3 tag-key split: reference re_after_colon quirks replicated") {
    val df = Seq("addr:street", "addr:street:name", "tiger:name_base_1",
      "fire_hydrant:type", "exit_to", "Highway:x", "a1:b", "a:b:c:d")
      .toDF("k")
      .select(col("k"), CleanFns.tagKey(col("k")).as("key"), CleanFns.tagType(col("k")).as("type"))
    val m = df.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(m("addr:street") == ("street", "addr"))
    // 2-colon key: both segments kept
    assert(m("addr:street:name") == ("street:name", "addr"))
    // reference truncates at the first char outside [a-z_]: digit dropped
    // (verified against Step_2:204-208's exact regex)
    assert(m("tiger:name_base_1") == ("name_base_", "tiger"))
    // and caps the key at two colon-segments
    assert(m("a:b:c:d") == ("b:c", "a"))
    assert(m("fire_hydrant:type") == ("type", "fire_hydrant"))
    // no colon → regular passthrough
    assert(m("exit_to") == ("exit_to", "regular"))
    // uppercase / digits before the colon fail the [a-z_] gate → regular
    assert(m("Highway:x") == ("Highway:x", "regular"))
    assert(m("a1:b") == ("a1:b", "regular"))
  }

  test("P3 problem chars: dotted/spaced/quoted keys are flagged") {
    val bad = Seq("bad=key", "has space", "dot.key", "a,b", "q?x")
    val good = Seq("addr:street", "name", "name_1", "a-b")
    val df = (bad ++ good).toDF("k")
      .select(col("k"), CleanFns.hasProblemChars(col("k")).as("p"))
    val m = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    bad.foreach(k => assert(m(k), s"$k should be flagged"))
    good.foreach(k => assert(!m(k), s"$k should pass"))
  }

  test("shared tokenizer: dirty whitespace (tabs, runs, trailing newline) is robust") {
    // the pinned dirty-whitespace fixture: tabs, double spaces, leading
    // whitespace, trailing newline — real-corpus text, not the synthetic
    // single-space ideal
    val dirty = "alpha\tbeta  gamma delta epsilon zeta\n"
    val clean = "alpha beta gamma delta epsilon zeta"
    val df = Seq((1L, dirty), (2L, clean), (3L, ""), (4L, " \t\n ")).toDF("doc_id", "text")
      .select(col("doc_id"), CleanFns.tokens(col("text")).as("ws"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L) == Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    assert(m(1L) == m(2L), "dirty and clean twins must tokenize identically")
    assert(m(3L).isEmpty && m(4L).isEmpty, "empty/whitespace-only text yields NO tokens")

    // the native codegen expressions share the tokenizer: a dirty doc and
    // its clean twin produce IDENTICAL minhash bands and simhash
    val sigs = Seq((1L, dirty), (2L, clean)).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.MinHashBands.minhash_bands(col("text")).as("bands"),
        graft.functions.SimHash32.simhash32(col("text")).as("sh"))
      .collect().map(r => (r.getSeq[String](1), r.getLong(2)))
    assert(sigs(0) == sigs(1), "native signatures differ between dirty and clean twins")
    // JVM-side helper == the Column-level tokenizer on the same inputs
    assert(graft.functions.Tok.split(dirty).toSeq == m(1L))
    assert(graft.functions.Tok.split("").isEmpty && graft.functions.Tok.split(" \t ").isEmpty)

    // and the declarative generators agree with the native ones on dirty text
    val docs = Seq((1L, dirty, "en", "web"), (2L, clean, "en", "web")).toDF("doc_id", "text", "lang", "source")
    val decl = graft.ext.Dedup.minhashBands(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val nat = graft.ext.Dedup.minhashBandsNative(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(decl == nat && decl.nonEmpty)
    val declSh = graft.ext.Dedup.simhashSig(docs)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val natSh = docs.select(col("doc_id"),
        graft.functions.SimHash32.simhash32(col("text")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(declSh == natSh)
  }
}
