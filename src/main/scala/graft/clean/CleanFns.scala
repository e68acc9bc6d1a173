package graft.clean

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar cleaning functions F1–F5 of the reference
  * (ref: Step_2_CSV_and_Data_Cleaning.py:242-279, rule tables :26-53).
  *
  * All five are pure Catalyst `Column` expressions — no UDFs — so they stay
  * inside whole-stage codegen and are safe in the hot path of a 100 TB scan.
  *
  * The reference crashes on unseen-dirty data (F1 KeyError at Step_2:246,
  * F4 AttributeError at :271-272). Default here is lenient (pass through /
  * empty); `strict = true` reproduces crash-on-dirty via `raise_error`.
  */
object CleanFns {

  /** Street suffixes that need no rewrite (ref: Step_2:32-35). */
  val expectedStreetTypes: Seq[String] = Seq(
    "Wren", "West", "Way", "Walk", "Trace", "Talamore", "Ridge", "Reinhardt",
    "Ravine", "Pointe", "Pine", "Path", "Pass", "Park", "North", "Maple",
    "Loop", "Landing", "Juniper", "East", "Crossing", "Cove", "Cliff",
    "CastlePath", "Castle", "Canterwood", "Bend", "Drive", "Boulevard",
    "973", "685", "619", "459", "3177", "290", "275", "138", "129", "1100",
    "Court", "Lane", "Square", "Avenue", "Trail", "Street", "Place",
    "Terrace", "Parkway", "Circle", "Road")

  /** Dirty-suffix → canonical suffix (ref: Step_2:38-53). */
  val streetMapping: Map[String, String] = Map(
    "St" -> "Street", "St." -> "Street", "Ave" -> "Avenue",
    "Blvd" -> "Boulevard", "Rd." -> "Road", "Rd" -> "Road",
    "street" -> "Street", "Trl" -> "Trail", "Ln" -> "Lane", "Dr" -> "Drive",
    "Cv" -> "Cove", "Ct" -> "Court", "Cc" -> "Cove", "pass" -> "Pass",
    "Terrance" -> "Terrace")

  /** street_type_re (ref: Step_2:26): last whitespace token of the value. */
  val lastTokenRe = "\\b\\S+\\.?$"

  /** F1 — canonicalize the street-type suffix (ref: Step_2:242-247). */
  def street(c: Column, strict: Boolean = false): Column = {
    val tok = regexp_extract(c, lastTokenRe, 0)
    val mapped = element_at(typedLit(streetMapping), tok)
    val miss =
      if (strict) raise_error(concat(lit("KeyError: "), tok))
      else c
    when(tok.isInCollection(expectedStreetTypes), c)
      .when(mapped.isNotNull, regexp_replace(c, lit(lastTokenRe), mapped))
      .otherwise(miss)
  }

  /** F2 — normalize phone to XXX-XXX-XXXX by blind slicing, replicating the
    * reference's no-length-check semantics exactly (ref: Step_2:249-257).
    */
  def phone(c: Column): Column = {
    val digits = regexp_replace(c, "[^0-9]+", "")
    val noCc = when(substring(digits, 1, 1) === "1", substring(digits, 2, 1000000))
      .otherwise(digits)
    concat_ws("-",
      substring(noCc, 1, 3), substring(noCc, 4, 3), substring(noCc, 7, 1000000))
  }

  /** city_type_re (ref: Step_2:29): first word incl. hyphens. */
  val cityRe = "^([\\w\\-]+)"

  /** F3 — first token of the city, 'Round' → 'Round Rock' (ref: Step_2:259-267). */
  def city(c: Column): Column = {
    val first = regexp_extract(c, cityRe, 1)
    when(first === "", c) // no match: reference returns input unchanged
      .when(first === "Round", "Round Rock")
      .otherwise(first)
  }

  /** F4 — first 5-digit run anywhere in the value (ref: Step_2:270-273). */
  def postcode(c: Column, strict: Boolean = false): Column = {
    val z = regexp_extract(c, "\\d{5}", 0)
    if (strict) when(z === "", raise_error(concat(lit("AttributeError: "), c))).otherwise(z)
    else z
  }

  /** F5 — 'TX' → 'Texas', all else unchanged (ref: Step_2:276-279). */
  def state(c: Column): Column = when(c === "TX", "Texas").otherwise(c)

  /** THE corpus tokenizer — split on any whitespace RUN (spaces, tabs,
    * newlines), empty tokens dropped. Every text operator (shingles,
    * MinHash/SimHash signatures, token counts, packing budgets) tokenizes
    * through this one definition so real-corpus whitespace (tabs,
    * double-spaces, trailing newlines) cannot silently join shingles or
    * inflate token counts — and so batch, streaming, the native codegen
    * expressions, and the DuckDB oracles cannot drift from each other.
    * `tokensDuck` is the same definition in DuckDB's dialect for oracle
    * SQL.
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), tkn => length(tkn) > 0)

  /** DuckDB fragment of [[tokens]] for oracle SQL (`tkn`, not `t`: several
    * oracles alias a CTE `t`, and the lambda parameter must not shadow it).
    */
  def tokensDuck(e: String): String =
    s"list_filter(string_split_regex($e, '\\s+'), tkn -> tkn <> '')"

  /** PROBLEMCHARS (ref: Step_2:21) — tag keys matching this are dropped (P3). */
  val problemCharsRe = "[=+/&<>;'\"?%#$@,. \\t\\r\\n]"

  def hasProblemChars(k: Column): Column = k.rlike(problemCharsRe)

  /** LOWER_COLON gate (ref: Step_2:20): prefix-match on ^[a-z_]+:[a-z_]+. */
  val lowerColonRe = "^([a-z]|_)+:([a-z]|_)+"

  /** R2/R3 — tag-key split (ref: Step_2:201-230, default type at :64).
    * `type` = the leading [a-z_]+ run before the first colon.
    * `key` replicates the reference's re_after_colon quirk EXACTLY
    * (`(:([a-z]|_)+)?(:([a-z]|_)+)` + strip leading colon): at most TWO
    * colon-segments, truncated at the first character outside [a-z_:] —
    * so `tiger:name_base_1` → `name_base_` (digit truncated) and
    * `a:b:c:d` → `b:c`. Keys failing the LOWER_COLON gate pass through
    * verbatim with type='regular'.
    */
  val afterColonRe = "(:([a-z]|_)+)?(:([a-z]|_)+)"

  def tagKey(k: Column): Column =
    when(k.rlike(lowerColonRe),
      regexp_extract(k, afterColonRe, 0).substr(lit(2), lit(1000000)))
      .otherwise(k)

  def tagType(k: Column): Column =
    when(k.rlike(lowerColonRe), substring_index(k, ":", 1))
      .otherwise("regular")
}
