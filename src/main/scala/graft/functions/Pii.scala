package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection and redaction for training-data scrubbing: emails,
  * NANP-style phone numbers, SSN-shaped ddd-dd-dddd numbers, and IPv4
  * addresses, as pure codegen'd regexp projections (no UDF, no
  * shuffle — scales with the scan).
  *
  * The patterns deliberately use only syntax shared by Java regex
  * (Spark) and RE2 (DuckDB — the oracle engine): character classes,
  * bounded repetition, non-capturing groups, `\b` word boundaries; no
  * lookarounds or backreferences. Counts are computed on the ORIGINAL
  * text per category, so a string matching two categories (an IPv4
  * inside an email's domain) counts in both; redaction applies
  * email → phone → SSN → IP in that order, which makes the composite
  * deterministic regardless of such overlaps (phone's 3-3-4 and SSN's
  * 3-2-4 shapes cannot match each other's digits under `\b`).
  */
object Pii {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRe))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhoneRe))
  def ssnCount(text: Column): Column = regexp_count(text, lit(SsnRe))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(Ipv4Re))

  /** `text` with every email/phone/SSN/IPv4 occurrence replaced by a
    * typed placeholder — the scrubbing pass a corpus runs before
    * training.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]"),
        SsnRe, "[SSN]"),
      Ipv4Re, "[IP]")
}
