package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline surface.
  * All pure `org.apache.spark.sql.functions` compositions (higher-order
  * array functions) — codegen'd, no UDFs, no driver-side work; every one
  * is a per-row expression that scales linearly on executors.
  */
object TextFunctions {

  /** Lower-cased whitespace tokens, empty strings dropped. */
  def words(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => length(w) > 0)

  /** Word k-shingles: ["a b c", "b c d", ...] from the token array.
    * Empty when the doc has fewer than k tokens. */
  def shingles(tokens: Column, k: Int): Column =
    when(size(tokens) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", slice(tokens, i + 1, lit(k)))))

  /** Distinct shingles — the set used for Jaccard. Routed through the
    * codegen'd single-pass expression (graft.plans.WordShingleSet); the
    * declarative [[shingles]] form above documents the exact semantics. */
  def shingleSet(text: Column, k: Int): Column =
    graft.plans.ShingleExpressions.wordShingleSet(text, k)

  /** Corpus text normalization — the canonical pre-hash cleanup pass:
    * Unicode NFC composition (codegen'd [[graft.plans.NfcNormalize]];
    * identical-looking decomposed text must not dedup apart), removal of
    * control/format characters (Cc except tab/LF/CR, all Cf — soft
    * hyphens, zero-width joiners, BOMs), whitespace-run collapse to one
    * space, and trim. Pure per-row expression; the character-class
    * regex is valid in both Java regex and RE2, so the DuckDB oracle
    * runs the literally-same pattern. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        graft.plans.NormalizeExpressions.nfcNormalize(text),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F\\p{Cf}]", ""),
      "\\s+", " "))

  /** Exact Jaccard similarity of two string arrays that are already
    * DISTINCT (sets): |A∩B| via the one-pass codegen'd count, |A∪B| by
    * inclusion-exclusion — same integers, same double division as the
    * array_intersect/array_union form it replaced. */
  def jaccard(a: Column, b: Column): Column = {
    val i = graft.plans.SetExpressions.arrayIntersectCount(a, b)
    val u = size(a) + size(b) - i
    when(u === 0, lit(0.0)).otherwise(i.cast("double") / u.cast("double"))
  }

  /** Token count under a BPE-ish regex (word runs + single punctuation) —
    * the pre-tokenizer shape used by byte-pair encoders. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Occurrences of any of `markers` among the tokens. */
  def markerCount(tokens: Column, markers: Seq[String]): Column = {
    val set = array(markers.map(lit): _*)
    size(filter(tokens, w => array_contains(set, w)))
  }

  /** Language-ID marker sets (public stopword lists, most-frequent
    * function words per language). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "de", "que", "los", "es", "una"))

  /** n-gram-heuristic language ID: argmax of marker-word counts with a
    * fixed priority order (en > de > fr > es), 'und' (undetermined) when
    * no marker hits. Deterministic; oracle-replicable in ANSI SQL. */
  def langId(text: Column): Column = {
    val toks = words(text)
    val scores = langMarkers.map { case (l, ms) => l -> markerCount(toks, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (l, s)) =>
      acc.when(s === best, lit(l))
    }.otherwise(lit("und"))
  }

  /** Rolling polynomial fingerprint over the document's characters:
    * acc = (acc * 31 + code(char)) mod 1e9+7. Modular (not wraparound) so
    * the identical fold is expressible in engines without overflow
    * semantics (the DuckDB oracle). Sequential `aggregate` — codegen'd. */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      filter(split(text, ""), ch => length(ch) > 0),
      lit(0L),
      (acc, ch) => (acc * lit(31L) + ascii(ch).cast("long")) % lit(1000000007L))
}
