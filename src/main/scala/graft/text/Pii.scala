package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** tx15: PII detection + redaction — the scrub step every public-web
  * training corpus applies before training (the RefinedWeb/Pile recipe:
  * regex families for emails, IP addresses and phone-like numbers, replaced
  * with typed placeholder tokens; Penedo et al. 2023 §3.5). Per-row Column
  * expressions only — at 100 TB this is a map-side projection with zero
  * shuffle, and the counts aggregate with map-side combine.
  *
  * Cross-engine exactness: the patterns use only syntax with identical
  * semantics in Java regex (Spark) and RE2 (DuckDB) — character classes,
  * bounded repetition, non-capturing groups, ASCII `\b`, `\d` — and both
  * engines scan leftmost non-overlapping, so match counts and replacement
  * sites agree byte-for-byte. Alternation order (email → IP → phone) is
  * fixed: earlier passes consume their matches before a later, looser
  * pattern (phone) can touch the remaining digits.
  */
object Pii {

  /** RFC-5322-lite: the practical email shape corpus scrubs target. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4, word-bounded so version strings ("1.2.3.4.5") still
    * match their first four octets exactly like RE2/Java both do.
    */
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Phone-like digit runs: optional +, then >= 9 chars of digits/space/
    * hyphen between two digits. Deliberately the LAST pass — anything an
    * earlier pass consumed (IP octets, email local parts) is already gone.
    */
  val PhoneRe = "\\+?\\d[\\d -]{7,}\\d"

  def detect(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      regexp_count(col(textCol), lit(EmailRe)).as("n_emails"),
      regexp_count(col(textCol), lit(Ipv4Re)).as("n_ips"),
      // count phones on the email/IP-scrubbed text, mirroring the redaction
      // order — an IP must never double-count as a phone
      regexp_count(
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        lit(PhoneRe)).as("n_phones"))

  /** doc_id, redacted text, and per-family counts in ONE projection — no
    * join, no shuffle; subexpression elimination shares the inner
    * email/IP-scrub between the phone count and the final redaction.
    */
  def redact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scrubbed2 = regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
      Ipv4Re, "<IP>")
    df.select(col(idCol).as("doc_id"),
      regexp_replace(scrubbed2, PhoneRe, "<PHONE>").as("text_redacted"),
      regexp_count(col(textCol), lit(EmailRe)).as("n_emails"),
      regexp_count(col(textCol), lit(Ipv4Re)).as("n_ips"),
      regexp_count(scrubbed2, lit(PhoneRe)).as("n_phones"))
  }
}
