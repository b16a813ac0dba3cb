package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All pure column expressions (codegen'd, no UDFs): at 100 TB these run
  * inside the scan's WholeStageCodegen with full column pruning — only
  * (doc_id, text) is read.
  */
object TextAnalysis {

  /** Whitespace tokenization — deterministic, engine-portable. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Stopword lists per language for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast as literals into codegen.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"))

  /** Stopword hits of `lang` among `toks`. */
  private[graft] def stopCount(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang): _*)))

  /** Punctuation characters (`.,;:!?`) in `text`. */
  private[graft] def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", ""))

  /** doc_id, n_tokens, n_distinct, n_chars_m. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      length(col("text")).cast("long").as("n_chars_m"))
  }

  /** Quality signals as exact integer numerators/denominators (ratios are
    * for the consumer to derive — integer outputs keep the oracle
    * bit-exact across engines).
    */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      stopCount(toks, "en").as("n_stop"),
      size(filter(toks, t => length(t) >= 10)).as("n_long_tokens"),
      punctCount(col("text")).as("n_punct"),
      length(regexp_replace(col("text"), "[^A-Z]", "")).as("n_upper"))
  }

  /** Stopword-vote language ID with deterministic tie-break en>de>fr>es. */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val (en, de, fr, es) =
      (stopCount(toks, "en"), stopCount(toks, "de"), stopCount(toks, "fr"), stopCount(toks, "es"))
    docs.select(
      col("doc_id"), en.as("n_en"), de.as("n_de"), fr.as("n_fr"), es.as("n_es"),
      when(en >= greatest(de, fr, es), "en")
        .when(de >= greatest(fr, es), "de")
        .when(fr >= es, "fr")
        .otherwise("es").as("lang_pred"))
  }

  /** Order-insensitive document fingerprint: md5 over the sorted distinct
    * token set (bag-of-words identity; robust to shuffling).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens(col("text")))), " ")).as("fp"))

  /** PII patterns, engine-portable (same semantics under Java regex and
    * RE2): ASCII character classes, bounded quantifiers, `\b` word
    * boundaries — no lookaround, no backreferences. Redaction order is
    * email → IPv4 → phone; the placeholders contain no digits, so a later
    * pattern can never match inside an earlier redaction.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}"

  /** PII redaction — the compliance pass every training-data pipeline runs
    * before text leaves curation: count and redact emails, IPv4 addresses
    * and international phone numbers. Pure row-local column expressions
    * (codegen'd regex over the scan, zero shuffle; at 100 TB this is a
    * map-only pass that rewrites text in place).
    * Output: (doc_id, n_emails, n_ipv4, n_phones, clean_text).
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val textCol = col("text")
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(textCol, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(textCol, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(textCol, lit(Ipv4Re), lit(0))).as("n_ipv4"),
      size(regexp_extract_all(textCol, lit(PhoneRe), lit(0))).as("n_phones"),
      clean.as("clean_text"))
  }

  /** Corpus vocabulary frequency table, top `k` by exact count with a
    * deterministic tie-break (token asc) — the tokenizer-training /
    * stopword-mining view of the corpus. One explode + partial-aggregated
    * count + distributed top-N (`orderBy.limit` plans as
    * TakeOrderedAndProject — never a global sort of the vocabulary).
    * Output: (token, n, rank).
    */
  def vocab(docs: DataFrame, k: Int = 50): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(k)
    counts.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token").asc)))
  }

  /** Per-document top-`k` TF-IDF terms — the keyword/topic view every
    * retrieval or curation pipeline wants next to raw counts. The IDF is
    * the log-free rational form n_docs/df: term ordering under it is the
    * engine-exact one (int64 product then one IEEE-correctly-rounded
    * division — bit-identical in Spark and DuckDB, where `ln` carries no
    * cross-engine rounding guarantee); log damping rescales scores
    * monotonically per token but is not needed to define the per-doc rank,
    * which is what this operator emits.
    *
    * Scale shape: term frequencies are ONE hash aggregation keyed by
    * (doc_id, token) (map-side partial combine absorbs within-partition
    * repeats); document frequencies reuse that aggregate — it is already
    * distinct per (doc, token) — so df is a second, vocabulary-sized agg,
    * never a re-scan; n_docs joins in as a broadcast single row; the
    * per-doc top-k is a doc_id-partitioned window (rank + filter, no
    * global sort). At 100 TB the df side is vocabulary-bounded (power
    * law), so AQE picks broadcast vs shuffled hash for the token join on
    * measured size. Output: (doc_id, token, tf, df, rank), rank ≤ `k`,
    * ties broken token-ascending.
    */
  def tfidf(docs: DataFrame, k: Int = 5): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // count(tf >= 1), not count(1): the guard genuinely references tf
    // (always true, so df is unchanged), which pins the df branch's
    // subtree byte-identical to the tf branch — plain count(1)/count(tf)
    // let column pruning drop tf's count from this branch and break
    // exchange canonicalization, forcing a SECOND tokenize+aggregate
    // scan of the corpus; with the guard, exchange reuse serves both
    // branches from one scan+aggregate (plan-asserted in PlanSpec).
    val dfreq = tf.groupBy("token")
      .agg(count(when(col("tf") >= 1, lit(1))).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rank"))
  }
}
