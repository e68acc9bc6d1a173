package graft.ext

import graft.{Probe, Tables}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table: language-ID heuristic,
  * quality scoring, token counting, and document fingerprinting.
  *
  * All are narrow, per-row column expressions (no shuffle at all except the
  * final presentation ORDER BY) — embarrassingly parallel at 100 TB.
  * Ratios are exact ppm integers (truncating division) for oracle parity.
  */
object TextAnalysis {

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val esStop = Seq("el", "la", "de", "y", "que", "en")
  private val deStop = Seq("der", "die", "das", "und", "ist")
  private val frStop = Seq("le", "la", "les", "et", "est")

  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ",", ")")

  /** X-TXT1 — stopword-hit language ID with a fixed precedence order
    * (en > es > de > fr on ties; 'und' when no list hits).
    */
  private val txt1 = Probe(
    "x_txt1_lang_id",
    s"""WITH t AS (
       |  SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), tkn -> tkn <> '') AS ws FROM documents),
       |h AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(ws, w -> w IN ${inList(enStop)})) AS BIGINT) AS en_hits,
       |    CAST(len(list_filter(ws, w -> w IN ${inList(esStop)})) AS BIGINT) AS es_hits,
       |    CAST(len(list_filter(ws, w -> w IN ${inList(deStop)})) AS BIGINT) AS de_hits,
       |    CAST(len(list_filter(ws, w -> w IN ${inList(frStop)})) AS BIGINT) AS fr_hits
       |  FROM t)
       |SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
       |  CASE WHEN en_hits = 0 AND es_hits = 0 AND de_hits = 0 AND fr_hits = 0 THEN 'und'
       |       WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
       |       WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
       |       WHEN de_hits >= fr_hits THEN 'de'
       |       ELSE 'fr' END AS pred_lang
       |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .withColumn("ws", graft.clean.CleanFns.tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        expr(s"CAST(size(filter(ws, w -> w IN ${inList(enStop)})) AS BIGINT)").as("en_hits"),
        expr(s"CAST(size(filter(ws, w -> w IN ${inList(esStop)})) AS BIGINT)").as("es_hits"),
        expr(s"CAST(size(filter(ws, w -> w IN ${inList(deStop)})) AS BIGINT)").as("de_hits"),
        expr(s"CAST(size(filter(ws, w -> w IN ${inList(frStop)})) AS BIGINT)").as("fr_hits"))
      .withColumn("pred_lang", expr(
        """CASE WHEN en_hits = 0 AND es_hits = 0 AND de_hits = 0 AND fr_hits = 0 THEN 'und'
          |     WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
          |     WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
          |     WHEN de_hits >= fr_hits THEN 'de'
          |     ELSE 'fr' END""".stripMargin))
      .orderBy("doc_id")
  }

  /** X-TXT2 — quality scoring: length, word stats, punctuation and stopword
    * ratios (ppm), and a boolean keep/drop gate — the standard pre-training
    * corpus filter shape.
    */
  private val txt2 = Probe(
    "x_txt2_quality",
    s"""WITH t AS (
       |  SELECT doc_id, n_chars, text, list_filter(string_split_regex(text, '\\s+'), tkn -> tkn <> '') AS ws,
       |         CAST(length(text) AS BIGINT) AS len_chars,
       |         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_letters
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, n_chars, len_chars, n_letters,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(ws, w -> w IN ${inList(enStop)})) AS BIGINT) AS n_stop
       |  FROM t)
       |SELECT doc_id, n_chars, len_chars, n_words, n_letters,
       |  (n_letters * 1000000) // len_chars AS letter_ppm,
       |  (n_stop * 1000000) // nullif(n_words, 0) AS stop_ppm,
       |  (len_chars = n_chars) AS len_matches,
       |  (n_words >= 5 AND n_words <= 2000) AS len_ok
       |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .withColumn("ws", graft.clean.CleanFns.tokens(col("text")))
      .withColumn("len_chars", length(col("text")).cast("long"))
      .withColumn("n_letters",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter(ws, w -> w IN ${inList(enStop)})) AS BIGINT)"))
      .select(col("doc_id"), col("n_chars"), col("len_chars"), col("n_words"), col("n_letters"),
        expr("(n_letters * 1000000) DIV len_chars").as("letter_ppm"),
        expr("(n_stop * 1000000) DIV nullif(n_words, 0)").as("stop_ppm"),
        (col("len_chars") === col("n_chars")).as("len_matches"),
        (col("n_words") >= 5 && col("n_words") <= 2000).as("len_ok"))
      .orderBy("doc_id")
  }

  /** X-TXT3 — token counting: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single other chars), distinct tokens.
    */
  private val txt3 = Probe(
    "x_txt3_token_count",
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
      |  CAST(len(list_distinct(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> ''))) AS BIGINT) AS n_distinct
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents").select(
      col("doc_id"),
      size(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long")
        .as("n_re_tokens"),
      size(array_distinct(graft.clean.CleanFns.tokens(col("text")))).cast("long").as("n_distinct"))
      .orderBy("doc_id")
  }

  /** X-TXT4 — document fingerprints: exact content hash + an order-invariant
    * bag-of-words fingerprint (sorted distinct words → md5), the cheap
    * canonical-form dedup key.
    */
  private val txt4 = Probe(
    "x_txt4_fingerprint",
    """SELECT doc_id, md5(text) AS content_fp,
      |  md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> ''))), ' ')) AS bow_fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents").select(
      col("doc_id"), md5(col("text")).as("content_fp"),
      md5(array_join(array_sort(array_distinct(graft.clean.CleanFns.tokens(col("text")))), " ")).as("bow_fp"))
      .orderBy("doc_id")
  }

  /** X-TXT5 — document fingerprint via the native rolling_hash Catalyst
    * expression (graft.functions.RollingHash: codegen'd Rabin–Karp, no UDF
    * boundary); SQL text reaches it through GraftExtensions.
    *
    * Oracle-equivalence note: RollingHash folds UTF-8 BYTES; the DuckDB
    * oracle below folds per-character codepoints (ascii/substr). The two
    * agree iff the text is pure ASCII — which the documents fixture is
    * (verified: text is generated from an ASCII word list). On a multi-byte
    * corpus the oracle, not the expression, would diverge; RollingHashSpec
    * pins the byte-fold definition directly, including non-ASCII input.
    */
  private val txt5 = Probe(
    "x_txt5_rolling_hash",
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(text) + 1),
      |                   i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.RollingHash.rolling_hash(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  /** X-TXT7 — Gopher-style repetition signal: duplicate-bigram fraction
    * per document (exact ppm). Boilerplate/spam text repeats n-grams; the
    * standard corpus quality gates threshold on this.
    *
    * Pure narrow map — the bigram list, its distinct size, and the ratio
    * are all higher-order array functions on the row, NO explode and no
    * shuffle (vs x_ded4's pairwise form): per-doc signals at 100 TB cost
    * exactly one scan.
    */
  private val txt7 = Probe(
    "x_txt7_repetition",
    """SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
      |  ((len(bg) - len(list_distinct(bg))) * 1000000) // len(bg) AS rep_ppm
      |FROM (SELECT doc_id,
      |        list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1]) AS bg
      |      FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '') AS ws FROM documents
      |            WHERE len(list_filter(string_split_regex(text, '\s+'), tkn -> tkn <> '')) >= 2))
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), graft.clean.CleanFns.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        expr("(CAST(size(bg) - size(array_distinct(bg)) AS BIGINT) * 1000000) DIV size(bg)")
          .as("rep_ppm"))
      .orderBy("doc_id")
  }

  /** X-TXT10 — PII redaction: the scrubbing pass every released corpus
    * runs — emails, IPv4 addresses, and phone numbers replaced with typed
    * placeholder tokens, with per-doc match counts (the audit trail).
    * Purely narrow (regexp per row, no shuffle but the presentation sort).
    *
    * The synthetic corpus carries no PII, so a deterministic PII suffix is
    * APPENDED per doc (id-derived email/IP/phone) before redaction —
    * the machinery under test is the regex surface + replacement order,
    * pinned cross-engine by hashing the fully-redacted text. Patterns are
    * written in the RE2∩Java common dialect (no backslash classes:
    * `[0-9]` not `\d`, `[.]` not `\.`) so both engines compile the same
    * automaton. Replacement order (email → IP → phone) matters — an IPv4
    * is a substring of neither, but order is part of the declared
    * semantics and the hash would catch any divergence.
    */
  private val txt10 = Probe(
    "x_txt10_pii_redact",
    """WITH aug AS (
      |  SELECT doc_id,
      |    substr(text, 1, 40) || ' mail u' || CAST(doc_id AS VARCHAR) ||
      |    '@ex.org ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
      |    '.7 tel 512-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, t,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(t, '[a-z0-9]+@[a-z]+[.][a-z]+', '<EMAIL>', 'g'),
      |        '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+', '<IP>', 'g'),
      |      '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red
      |  FROM aug)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+[.][a-z]+')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+')) AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  md5(red) AS redact_hash
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val email = "[a-z0-9]+@[a-z]+[.][a-z]+"
    val ip = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    Tables(s, dir, "documents")
      .select(col("doc_id"), concat(
        substring(col("text"), 1, 40),
        lit(" mail u"), col("doc_id").cast("string"),
        lit("@ex.org ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 tel 512-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
      .withColumn("red",
        regexp_replace(regexp_replace(regexp_replace(col("t"),
          email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>"))
      .select(col("doc_id"),
        regexp_count(col("t"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(ip)).cast("long").as("n_ips"),
        regexp_count(col("t"), lit(phone)).cast("long").as("n_phones"),
        md5(col("red")).as("redact_hash"))
      .orderBy("doc_id")
  }

  /** X-TXT21 — language confusion matrix: x_txt1's predictions rolled up
    * against the DECLARED language metadata — (lang, pred_lang, n_docs,
    * share_ppm of the declared language's total). The
    * metadata-vs-content consistency audit every multilingual corpus
    * runs: a hot off-diagonal cell means either the crawler's language
    * tags or the classifier is wrong for that slice, and both are
    * pipeline bugs upstream of every per-language operator (adaptive
    * thresholds, token budgets, splits). Shares x_txt1's exact
    * prediction algebra so the two can never drift.
    */
  private val txt21 = Probe(
    "x_txt21_lang_confusion",
    s"""WITH t AS (
       |  SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), tkn -> tkn <> '') AS ws FROM documents),
       |h AS (
       |  SELECT doc_id, lang,
       |    len(list_filter(ws, w -> w IN ${inList(enStop)})) AS en_hits,
       |    len(list_filter(ws, w -> w IN ${inList(esStop)})) AS es_hits,
       |    len(list_filter(ws, w -> w IN ${inList(deStop)})) AS de_hits,
       |    len(list_filter(ws, w -> w IN ${inList(frStop)})) AS fr_hits
       |  FROM t),
       |p AS (
       |  SELECT lang,
       |    CASE WHEN en_hits = 0 AND es_hits = 0 AND de_hits = 0 AND fr_hits = 0 THEN 'und'
       |         WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
       |         WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
       |         WHEN de_hits >= fr_hits THEN 'de'
       |         ELSE 'fr' END AS pred_lang
       |  FROM h),
       |c AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY lang, pred_lang)
       |SELECT lang, pred_lang, CAST(n AS BIGINT) AS n_docs,
       |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
       |FROM c ORDER BY lang, pred_lang""".stripMargin) { (s, dir) =>
    val p = Tables(s, dir, "documents")
      .withColumn("ws", graft.clean.CleanFns.tokens(col("text")))
      .select(col("lang"),
        expr(s"size(filter(ws, w -> w IN ${inList(enStop)}))").as("en_hits"),
        expr(s"size(filter(ws, w -> w IN ${inList(esStop)}))").as("es_hits"),
        expr(s"size(filter(ws, w -> w IN ${inList(deStop)}))").as("de_hits"),
        expr(s"size(filter(ws, w -> w IN ${inList(frStop)}))").as("fr_hits"))
      .withColumn("pred_lang", expr(
        """CASE WHEN en_hits = 0 AND es_hits = 0 AND de_hits = 0 AND fr_hits = 0 THEN 'und'
          |     WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
          |     WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
          |     WHEN de_hits >= fr_hits THEN 'de'
          |     ELSE 'fr' END""".stripMargin))
    p.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm",
        expr("CAST(n * 1000000 DIV SUM(n) OVER (PARTITION BY lang) AS BIGINT)"))
      .select(col("lang"), col("pred_lang"), col("n").cast("long").as("n_docs"),
        col("share_ppm"))
      .orderBy("lang", "pred_lang")
  }

  val all: Seq[Probe] = Seq(txt1, txt2, txt3, txt4, txt5, txt7, txt10, txt21)
}
