package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale document pipelines
  * (SURVEY.md §2.9). Everything is a Catalyst `Column` expression —
  * codegen'd, partition-local, no UDFs/closures — so a 100 TB
  * documents table processes as a single narrow projection stage.
  *
  * Cross-engine determinism: token hashing routes through md5 (stable
  * everywhere) rather than engine-specific hash functions; all modular
  * arithmetic stays under 2^62 so BIGINT math never overflows (DuckDB
  * errors on overflow; Spark wraps — neither is acceptable).
  */
object TextOps {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Count of an exact token via a codegen'd array filter. */
  def tokenCount(toks: Column, token: String): Column =
    size(filter(toks, t => t === token)).cast("long")

  /** 31-bit token hash from the md5 hex prefix — stable across
    * engines, uniform enough for minhash/simhash banding.
    */
  def tokenHash31(t: Column): Column =
    conv(substring(md5(t), 1, 14), 16, 10).cast("long") % 2147483647L

  /** Order-sensitive document fingerprint: polynomial rolling hash
    * over the token stream, acc = (acc*31 + h(t)) mod (2^31 − 1).
    * Intermediate values stay < 2^36.
    */
  def fingerprint(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => (acc * 31L + tokenHash31(t)) % 2147483647L)

  /** k-token shingles as space-joined strings (distinct set). */
  def shingles(toks: Column, k: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(toks) - (k - 1), lit(0))),
        i => concat_ws(" ", slice(toks, i, lit(k)))))

  /** Simple marker-token language scorer: argmax of marker counts with
    * fixed priority ties (en > es > de). A real n-gram model would
    * slot into the same shape (per-language score columns + greatest).
    */
  def langPredict(cntEn: Column, cntEs: Column, cntDe: Column): Column =
    when(cntEn >= cntEs && cntEn >= cntDe, "en")
      .when(cntEs >= cntDe, "es")
      .otherwise("de")

  /** PII detector classes for span redaction — restricted to regex
    * constructs with identical semantics in Java regex (Spark) and
    * RE2 (DuckDB): character classes, bounded repeats, greedy `+`/`*`;
    * no lookaround, no backreferences. A production pipeline swaps in
    * its own class list; the operator shape (count + global replace
    * per class, one projection) is the load-bearing part.
    */
  val EmailPat = "[a-z0-9.]+@[a-z0-9.]*[a-z]"
  val PhonePat = "555-[0-9]{4}"
  val IdPat = "[A-Z]{2}-[0-9]+"

  /** Per-class match counts from the SAME sequential replacement pass
    * that produces [[redact]]'s output: email counts on the raw text,
    * phone on the email-redacted text, id on the phone-redacted text.
    * Counting every class on the raw text instead would disagree with
    * the redaction whenever classes overlap in the raw text (e.g. in
    * `a555-1234@x.com` the email match consumes the digits the phone
    * pattern would have matched — raw counting reports phone=1, but
    * the sequential redaction never replaces a phone). With this
    * definition n_email+n_phone+n_id always equals the number of
    * replacement tokens in the redacted output (spec-pinned in
    * TextRedactSpec). Still one projection — the intermediate
    * replacements are common subexpressions of [[redact]].
    */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(text, EmailPat, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, PhonePat, "<PHONE>")
    (regexp_count(text, lit(EmailPat)).cast("long"),
     regexp_count(afterEmail, lit(PhonePat)).cast("long"),
     regexp_count(afterPhone, lit(IdPat)).cast("long"))
  }

  /** Global redaction of all three classes, sequentially (email first:
    * its replacement token contains capitals, but no `XX-digits` run,
    * so later classes can never match inside it). [[piiCounts]] counts
    * against the same intermediate texts, so counts and redaction can
    * never disagree.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>"),
      IdPat, "<ID>")
}
