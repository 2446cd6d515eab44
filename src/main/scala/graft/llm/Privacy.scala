package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy / normalization scrubbing for training-data curation — the
  * pass that runs between ingestion and dedup in a pretraining pipeline:
  * structured PII is masked with typed placeholders (so downstream dedup
  * does not split otherwise-identical documents on a phone number) and
  * text is canonicalized (Unicode NFC, control-character strip, whitespace
  * collapse) so fingerprints and shingle sets are stable across encodings.
  *
  * Everything here is scan-level codegen'd Catalyst expressions — regexp
  * rewrites and one native [[graft.functions.NfcNormalize]] call — no
  * shuffle, no UDF, embarrassingly parallel over documents, and every
  * pattern is deliberately restricted to syntax with identical semantics
  * in Java regex and RE2 (char classes, bounded repetition, `\b`) so the
  * DuckDB oracle reproduces the rewrite byte-for-byte.
  */
object Privacy {

  /** Email addresses — user@host.tld with the usual atom characters. */
  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""

  /** BR-style phone numbers — (DD) NNNN[N]-NNNN. */
  val PhoneRe = """\(\d{2}\)\s?\d{4,5}-\d{4}"""

  /** Dotted-quad IPv4 (syntactic — octet range not enforced). */
  val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  /** Mask emails → `<EMAIL>`, phones → `<TELEFONE>`, IPv4 → `<IP>` (in
    * that order: emails first so their digit runs can't be half-eaten by
    * the IP pattern) and count each kind from the ORIGINAL text. Appends
    * `texto_limpo`, `n_emails`, `n_telefones`, `n_ips`.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    def n(re: String): Column = size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    df.withColumn("texto_limpo",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            PhoneRe, "<TELEFONE>"),
          Ipv4Re, "<IP>"))
      .withColumn("n_emails", n(EmailRe))
      .withColumn("n_telefones", n(PhoneRe))
      .withColumn("n_ips", n(Ipv4Re))
  }

  /** k-anonymity suppression over quasi-identifier columns: any row whose
    * quasi-identifier combination is shared by fewer than `k` rows is
    * DROPPED — the release-gate complement to [[redactPii]] (masking
    * direct identifiers does nothing if a rare attribute combination
    * re-identifies the person). Appends `grupo_n`, the size of each
    * surviving row's equivalence class.
    *
    * Shape: one map-side-combinable `groupBy(quasi…).count` (the
    * equivalence-class table is bounded by the QI cardinality product,
    * orders of magnitude smaller than the corpus) joined back on the same
    * keys — the shuffle both sides already need, no window over the full
    * table. Numeric quasi-identifiers should be generalized into buckets
    * BEFORE calling (a raw unique value makes every row its own class).
    */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 1, s"need quasi columns and k>=1")
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("grupo_n"))
      .filter(col("grupo_n") >= k)
    df.join(classes, quasiCols)
  }

  /** Canonical text normalization: Unicode NFC (native codegen'd kernel),
    * C0 control characters (minus \t\n\r) and DEL stripped, then whitespace
    * runs collapsed to single spaces and trimmed. The standard
    * pre-fingerprint cleanup; byte-identical to DuckDB's
    * `nfc_normalize` + the same two regex rewrites.
    */
  /** Right-to-erasure propagation audit (the LGPD/GDPR cascade): given a
    * table of subject keys to erase, report — per registered table — how
    * many rows the erasure touches and how many remain, in ONE pass per
    * table. The erase-key set rides BROADCAST into every table scan
    * (subject lists are small; the fact tables never shuffle), and the
    * counts are a single combinable aggregation per table — the audit a
    * deletion job runs BEFORE and AFTER to prove the cascade covered
    * every table that references the subject. The cleaned tables
    * themselves are one `left_anti` each (same broadcast).
    *
    * Output: (tabela, n_linhas, n_apagar, n_restantes).
    */
  def erasureReport(
      tables: Seq[(String, DataFrame, String)], keys: DataFrame,
      keyCol: String): DataFrame = {
    require(tables.nonEmpty, "need at least one table to audit")
    val k = broadcast(keys.select(col(keyCol).as("__k")).distinct())
    tables.map { case (name, df, c) =>
      df.join(k, col(c) === col("__k"), "left")
        .agg(
          count(lit(1L)).as("n_linhas"),
          sum(when(col("__k").isNotNull, 1L).otherwise(0L)).as("n_apagar"))
        .select(lit(name).as("tabela"), col("n_linhas"), col("n_apagar"),
          (col("n_linhas") - col("n_apagar")).as("n_restantes"))
    }.reduce(_ unionByName _)
  }

  def normalizeText(text: Column): Column = {
    val nfc = call_function("nfc_normalize", text)
    val noCtl = regexp_replace(nfc, """[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]""", "")
    trim(regexp_replace(noCtl, """\s+""", " "))
  }
}
