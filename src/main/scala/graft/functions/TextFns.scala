package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline column combinators (SURVEY.md §2.4): the reference's
  * `_clean_tweet` chain (src/main.py:51-61) re-expressed as pure built-in
  * expressions — codegen'd, no UDFs, no per-row Python.
  *
  * Net semantics matched (SURVEY §2.4 quirks): whole-text clean, URL tokens
  * dropped, case-SENSITIVE stopword filtering (the reference never
  * lowercases), empty text → empty token array.
  */
object TextFns {

  /** NLTK English stopword list (public corpus, 179 words) — the reference
    * filters against it case-sensitively (src/main.py:45,59). */
  val EnglishStopwords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are", "was",
    "were", "be", "been", "being", "have", "has", "had", "having", "do",
    "does", "did", "doing", "a", "an", "the", "and", "but", "if", "or",
    "because", "as", "until", "while", "of", "at", "by", "for", "with",
    "about", "against", "between", "into", "through", "during", "before",
    "after", "above", "below", "to", "from", "up", "down", "in", "out",
    "on", "off", "over", "under", "again", "further", "then", "once",
    "here", "there", "when", "where", "why", "how", "all", "any", "both",
    "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've", "now",
    "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't",
    "couldn", "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn",
    "hadn't", "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't", "shan",
    "shan't", "shouldn", "shouldn't", "wasn", "wasn't", "weren", "weren't",
    "won", "won't", "wouldn", "wouldn't")

  /** URL removal (T1, reference src/main.py:54-55: spaCy `like_url` tokens
    * skipped — matched as a whole-text regex delete). */
  def stripUrls(c: Column): Column =
    regexp_replace(c, "(?i)\\bhttps?://\\S+|\\bwww\\.\\S+", "")

  /** Punctuation strip (T2, src/main.py:57 — ASCII punctuation, matching
    * Python's `string.punctuation`). */
  def stripPunct(c: Column): Column =
    regexp_replace(c, "[\\p{Punct}]", "")

  /** Regex tokenize on non-word runs, empties dropped (T3, src/main.py:58). */
  def tokenize(c: Column): Column =
    filter(split(c, "\\W+"), t => t =!= "")

  /** Case-sensitive stopword filter (T4, src/main.py:59) — `filter`, not
    * `array_except`, because NLTK's list-comprehension keeps duplicates.
    * The default (NLTK) list goes through the O(1) hash-set expression; a
    * custom list falls back to `isin`. */
  def removeStopwords(tokens: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    if (stopwords eq EnglishStopwords)
      filter(tokens, t => !IsStopwordExpr.isStopword(t))
    else
      filter(tokens, t => !t.isin(stopwords: _*))

  /** Porter-stem each token (T5) — one kernel loop over the array
    * (StemTokensExpr) instead of an interpreted per-element lambda around
    * the stem expression. */
  def stemTokens(tokens: Column): Column =
    StemTokensExpr.stemTokens(tokens)

  /** The full clean chain T1→T4 (no stemming — kept separate because the
    * stemmer has no DuckDB-oracle equivalent), fused into one kernel call
    * (CleanTokensExpr) with the exact regexes and stopword set of the
    * composable stripUrls→stripPunct→tokenize→removeStopwords steps, which
    * remain above as the documented building blocks. */
  def cleanTokens(text: Column): Column =
    CleanTokensExpr.cleanTokens(text)

  /** T1→T5: the reference's `_clean_tweet` end state. */
  def cleanStemmedTokens(text: Column): Column =
    stemTokens(cleanTokens(text))

  /** Deterministic token→id encoding shared with DuckDB (F1 substitute):
    * first 15 hex digits of md5, as a bigint, mod `vocabSize`.
    * DuckDB mirror: `hash60Sql(t) % vocab`. */
  def tokenId(t: Column, vocabSize: Int): Column =
    Exprs.hash60(t) % vocabSize

  /** Kernel form of `transform(tokens, t => tokenId(t, vocabSize))` — one
    * md5 loop per row instead of interpreted per-element lambdas
    * (TokenIdsExpr scaladoc has the numbers). */
  def encodeTokens(tokens: Column, vocabSize: Int): Column =
    TokenIdsExpr.encode(tokens, vocabSize)

  /** Right-pad with 0 / truncate to exactly `len` (F2, src/main.py:80). */
  def padIds(ids: Column, len: Int): Column =
    slice(concat(ids, array_repeat(lit(0L), len)), 1, len)

  /** Attention mask: 1 where id non-zero (F3, src/main.py:81). */
  def attentionMask(padded: Column): Column =
    transform(padded, x => when(x =!= 0L, 1).otherwise(0))

  /** Polynomial rolling fingerprint over token ids (north-star "document
    * fingerprinting"): fold(acc*31 + id) mod 1e9+7 — order-sensitive, exact,
    * and identical in DuckDB via list_reduce. */
  def rollingFingerprint(tokenIds: Column): Column =
    aggregate(tokenIds, lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)

  // ── PII scrubbing (q48) ────────────────────────────────────────────────
  // Patterns stay in the RE2-compatible subset (no backrefs/lookahead) so
  // the DuckDB oracle's regex engine agrees with Java's on every input.

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\b\\d{3}-\\d{4}\\b"

  /** Redact emails, then IPv4s, then phone-shaped numbers with typed
    * placeholders. Order matters: the email pass must run before the IP
    * pass so a domain's dotted tail can't be half-eaten as an address. */
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Match counts per PII class on the UNscrubbed text, aliased
    * (n_email, n_ip, n_phone). */
  def piiCounts(c: Column): Seq[Column] = Seq(
    regexp_count(c, lit(EmailPattern)).cast("long").as("n_email"),
    regexp_count(c, lit(Ipv4Pattern)).cast("long").as("n_ip"),
    regexp_count(c, lit(PhonePattern)).cast("long").as("n_phone"))

  // ── Repetition signals (q47) ───────────────────────────────────────────

  /** Adjacent-token bigrams ("a b"), empty below 2 tokens (guards Spark's
    * descending `sequence(1, 0)`). */
  def bigrams(tokens: Column): Column =
    when(size(tokens) >= 2,
      transform(sequence(lit(1), size(tokens) - 1),
        i => concat_ws(" ", element_at(tokens, i), element_at(tokens, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Occurrence count of the most frequent token (0 for empty input), as
    * one hash-count kernel pass per row. The composable
    * `array_max(transform(array_distinct(ts), u -> size(filter(ts, _ = u))))`
    * form runs O(distinct·n) INTERPRETED lambda evaluations per row
    * (lambdas don't codegen) — ~2.5 s of a sf0.1 scan before this kernel. */
  def topTokenCount(tokens: Column): Column =
    // NULL token arrays coalesce to 0, matching the composable form's
    // coalesce (array_max over an empty/NULL input yielded 0 there).
    coalesce(TopTokenCountExpr.topTokenCount(tokens), lit(0))
}
