package graft.operators

import graft.QuerySpec
import graft.functions.Exprs._
import graft.functions.TextFns
import graft.functions.TextFns._
import graft.sources.{Sinks, Staged, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text pipeline + text analysis (SURVEY.md §2.4-2.6 and the north-star
  * text-analysis band): clean chain, quality scoring, language ID, token
  * encoding (encode→pad→mask), document + dataset fingerprinting.
  *
  * Everything here is built-in expressions inside whole-stage codegen — no
  * UDFs, no shuffles except the final presentation sort (and the dataset
  * fingerprint, which is a single partial-aggregated global agg). At 100 TB
  * these are embarrassingly parallel scans.
  *
  * Every query has a DuckDB mirror; the shared clean-tokens expression is
  * rendered once for SQL so Spark and DuckDB filter through literally the
  * same stopword list and regexes.
  */
object TextQueries {

  /** Spark-side CSV rendering of a numeric array (concat_ws needs strings). */
  private def csv(c: Column): Column =
    concat_ws(",", transform(c, x => x.cast("string")))

  private def sqlList(words: Seq[String]): String =
    words.map(w => "'" + w.replace("'", "''") + "'").mkString("[", ", ", "]")

  /** DuckDB rendering of TextFns.cleanTokens (T1→T4). */
  private val CleanToksSql: String =
    raw"""list_filter(str_split_regex(regexp_replace(regexp_replace(text, '(?i)\bhttps?://\S+|\bwww\.\S+', '', 'g'), '[[:punct:]]', '', 'g'), '\W+'), t -> t <> '' AND NOT list_contains(${sqlList(EnglishStopwords)}, t))"""

  /** DuckDB rendering of TextFns.tokenId. */
  private def tokenIdSql(t: String, vocab: Int): String =
    s"${hash60Sql(t)} % $vocab"

  /** Shared raw text-statistics columns (chars/tokens/punct/upper/stopword
    * counts) — ONE engine-matched definition used by q21 and q39, so the
    * '[[:punct:]]' ↔ '\p{Punct}' pairing and token regexes can never drift
    * between the stats report and the filter decisions. */
  private val RawStatsSql: String =
    raw"""CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(list_filter(str_split_regex(text, '\W+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS BIGINT) AS n_punct,
       |    CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
       |    CAST(len(list_filter(str_split_regex(text, '\W+'), x -> list_contains(${sqlList(EnglishStopwords)}, x))) AS BIGINT) AS n_stop""".stripMargin

  /** Spark side of [[RawStatsSql]]. */
  private def rawStatsCols: Seq[Column] = {
    val rawToks = filter(split(col("text"), "\\W+"), x => x =!= "")
    Seq(
      asLong(length(col("text"))).as("n_chars"),
      asLong(size(rawToks)).as("n_tokens"),
      asLong(regexp_count(col("text"), lit("[\\p{Punct}]"))).as("n_punct"),
      asLong(regexp_count(col("text"), lit("[A-Z]"))).as("n_upper"),
      asLong(size(filter(rawToks, x => graft.functions.IsStopwordExpr.isStopword(x)))).as("n_stop"))
  }

  val q20CleanText: QuerySpec = QuerySpec.oracle(
    "q20_clean_text",
    s"""WITH toks AS (SELECT doc_id, $CleanToksSql AS ts FROM documents)
       |SELECT doc_id, array_to_string(ts, ' ') AS cleaned,
       |  CAST(len(ts) AS BIGINT) AS n_tokens
       |FROM toks ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = cleanTokens(col("text"))
    // sort before the heavy projection (r21, the q23 pattern): a global
    // orderBy samples its child to pick range bounds and then executes it
    // again — below the projection, the expensive per-doc expressions run
    // once; doc_id is unique so the order is identical
    Tables.documents(spark, dir)
      .orderBy("doc_id")
      .select(col("doc_id"),
        concat_ws(" ", toks).as("cleaned"),
        asLong(size(toks)).as("n_tokens"))
  }

  val q21TextStats: QuerySpec = QuerySpec.oracle(
    "q21_text_stats",
    s"""WITH t AS (
       |  SELECT doc_id, lang, source,
       |    $RawStatsSql
       |  FROM documents)
       |SELECT doc_id, lang, source, n_chars, n_tokens,
       |  n_punct / greatest(n_chars, 1) AS punct_ratio,
       |  n_upper / greatest(n_chars, 1) AS upper_ratio,
       |  n_stop / greatest(n_tokens, 1) AS stop_ratio,
       |  (n_chars - n_tokens + 1) / greatest(n_tokens, 1) AS avg_token_len
       |FROM t ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    // sort-first, the q23 pattern (see q20)
    Tables.documents(spark, dir)
      .orderBy("doc_id")
      .select(Seq(col("doc_id"), col("lang"), col("source")) ++ rawStatsCols: _*)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("n_tokens"),
        // unrounded quotients: the single double division is bit-identical
        // across engines, while round() can disagree at decimal half-way
        // points (see q17's fix in Relational.scala)
        (col("n_punct") / greatest(col("n_chars"), lit(1))).as("punct_ratio"),
        (col("n_upper") / greatest(col("n_chars"), lit(1))).as("upper_ratio"),
        (col("n_stop") / greatest(col("n_tokens"), lit(1))).as("stop_ratio"),
        ((col("n_chars") - col("n_tokens") + 1) / greatest(col("n_tokens"), lit(1))).as("avg_token_len"))
  }

  /** Tiny per-language function-word lists for the n-gram/langid heuristic. */
  private val LangWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "was", "for", "with", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "que", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "no", "con", "para", "por", "una"))

  val q22LangId: QuerySpec = QuerySpec.oracle(
    "q22_langid", {
      val hitCols = LangWords.map { case (l, ws) =>
        s"CAST(len(list_filter(str_split_regex(lower(text), '\\W+'), x -> list_contains(${sqlList(ws)}, x))) AS BIGINT) AS hits_$l"
      }.mkString(",\n    ")
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    $hitCols
         |  FROM documents)
         |SELECT lang, CASE
         |    WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
         |    WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
         |    WHEN hits_fr >= hits_es THEN 'fr'
         |    ELSE 'es' END AS lang_pred,
         |  count(*) AS n_docs
         |FROM h GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin
    }
  ) { (spark, dir) =>
    val lowToks = filter(split(lower(col("text")), "\\W+"), x => x =!= "")
    val withHits = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("lang")) ++ LangWords.map { case (l, ws) =>
        asLong(size(filter(lowToks, x => x.isin(ws: _*)))).as(s"hits_$l")
      }: _*)
    val pred = when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr") && col("hits_en") >= col("hits_es"), "en")
      .when(col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es"), "de")
      .when(col("hits_fr") >= col("hits_es"), "fr")
      .otherwise("es")
    withHits.select(col("lang"), pred.as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_pred")
  }

  private val Vocab = 30000
  private val MaxLen = 30

  val q23TokenEncode: QuerySpec = QuerySpec.oracle(
    "q23_token_encode",
    s"""WITH toks AS (SELECT doc_id, $CleanToksSql AS ts FROM documents),
       |ids AS (SELECT doc_id, ts,
       |  list_concat(list_transform(ts, t -> ${tokenIdSql("t", Vocab)}), ${Seq.fill(MaxLen)("CAST(0 AS BIGINT)").mkString("[", ", ", "]")})[1:$MaxLen] AS padded
       |  FROM toks)
       |SELECT doc_id,
       |  array_to_string(padded, ',') AS ids_csv,
       |  array_to_string(list_transform(padded, x -> CASE WHEN x <> 0 THEN 1 ELSE 0 END), ',') AS mask_csv,
       |  CAST(len(ts) AS BIGINT) AS n_tokens
       |FROM ids ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = cleanTokens(col("text"))
    val padded = padIds(encodeTokens(toks, Vocab), MaxLen)
    // sort BEFORE the heavy projection (r21): a global orderBy samples its
    // child once to pick range bounds and then executes it again for the
    // sort itself — with the projection above the sort, the per-token
    // md5 encode runs ONCE (the sample job reads only the narrow scan);
    // doc_id is unique, so the final order is identical
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .select(col("doc_id"),
        csv(padded).as("ids_csv"),
        csv(attentionMask(padded)).as("mask_csv"),
        asLong(size(toks)).as("n_tokens"))
  }

  /** Per-document fingerprints: content md5 (H1, src/main.py:71-72 semantic)
    * plus an order-sensitive polynomial rolling hash over token ids. */
  val q24DocFingerprint: QuerySpec = QuerySpec.oracle(
    "q24_doc_fingerprint",
    s"""WITH toks AS (SELECT doc_id, text, $CleanToksSql AS ts FROM documents)
       |SELECT doc_id, md5(text) AS content_md5,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(ts, t -> ${tokenIdSql("t", Vocab)})),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp
       |FROM toks ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    // sort-first, the q23 pattern (see q20)
    Tables.documents(spark, dir)
      .orderBy("doc_id")
      .select(col("doc_id"), md5(col("text")).as("content_md5"),
        rollingFingerprint(encodeTokens(cleanTokens(col("text")), Vocab)).as("rolling_fp"))
  }

  /** Whole-dataset content fingerprint (H1): order-independent aggregate of
    * per-row hashes — the content-addressed dataset version id. */
  val q25DatasetFingerprint: QuerySpec = QuerySpec.oracle(
    "q25_dataset_fingerprint",
    s"""WITH toks AS (SELECT doc_id, text, $CleanToksSql AS ts FROM documents),
       |fp AS (SELECT doc_id, text,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(ts, t -> ${tokenIdSql("t", Vocab)})),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp
       |  FROM toks)
       |SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
       |  min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,
       |  bit_xor(rolling_fp) AS xor_fp
       |FROM fp""".stripMargin
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        rollingFingerprint(encodeTokens(cleanTokens(col("text")), Vocab)).as("rolling_fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        min(md5(col("text"))).as("min_md5"),
        max(md5(col("text"))).as("max_md5"),
        expr("bit_xor(rolling_fp)").as("xor_fp"))
  }

  /** Partition-manifest checksums — q25's content-addressing at the
    * (lang, source) partition grain, which is what makes snapshot
    * verification INCREMENTAL at 100 TB: two snapshots are compared
    * manifest-to-manifest (97 rows here, partition-count rows in general),
    * and only partitions whose checksum moved need a re-read — the
    * Merkle-tree discipline with the partition layer as the leaves. The
    * checksum is an ORDER-INDEPENDENT exact decimal sum of a per-row
    * 60-bit md5 prefix (`conv(hex, 16, 10)` ↔ DuckDB's `('0x'||hex)::BIGINT`
    * — row order, partitioning, and merge strategy can't move it),
    * emitted as its 48-bit residue in BIGINT (see [[ChecksumModulus]]), keyed
    * on (id, text) so both id reassignment and content drift surface. One
    * map-side-combined aggregate over one scan; nothing collects. */
  /** Per-(lang, source) manifest of a documents-shaped table — the shared
    * leaf computation of q138 (single-snapshot manifest) and q145
    * (cross-snapshot diff). */
  private def manifestOf(docs: DataFrame): DataFrame =
    docs.groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        pmod(
          sum(conv(substring(md5(concat(col("doc_id").cast("string"), lit("|"), col("text"))), 1, 15),
            16, 10).cast("decimal(38,0)")),
          lit(ChecksumModulus).cast("decimal(38,0)")).cast("long").as("checksum"))

  /** 2^48 — the exact decimal(38,0) checksum sum stays INTERNAL (no
    * overflow at any row count); only its residue mod 2^48 is emitted, as
    * BIGINT in both engines, so the output schema carries no int128-backed
    * decimal the harness could render differently. 48 collision bits per
    * (lang, source) leaf keep the Merkle-leaf comparison sound. */
  private val ChecksumModulus = 281474976710656L

  /** The q138/q145 checksum in DuckDB terms, over a relation named `t`. */
  private def manifestSql(from: String): String =
    s"""SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(${hash60Sql("CAST(doc_id AS VARCHAR) || '|' || text")})
       |    % $ChecksumModulus AS BIGINT) AS checksum
       |FROM $from GROUP BY 1, 2""".stripMargin

  val q138ManifestChecksums: QuerySpec = QuerySpec.oracle(
    "q138_manifest_checksums",
    manifestSql("documents") + "\nORDER BY lang, source"
  ) { (spark, dir) =>
    manifestOf(Tables.documents(spark, dir)).orderBy("lang", "source")
  }

  /** Snapshot history for q144/q145, staged once per (session, dir)
    * ([[Staged]]): v0 = the source table; v1 = the 'fr' slice re-sourced to
    * 'rev1' with n_chars + 500 (an UPDATE generation); v2 = v1 minus
    * every 13th doc (a DELETE generation). All states derive from the
    * source table, so the DuckDB mirrors can recompute any version from
    * first principles. */
  private def ensureSnapshots(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    Staged(spark, dir, "snap") { root =>
      val v0 = Tables.documents(spark, dir)
      val v1 = v0.select(col("doc_id"), col("text"), col("lang"),
        when(col("lang") === "fr", lit("rev1")).otherwise(col("source")).as("source"),
        when(col("lang") === "fr", col("n_chars") + 500).otherwise(col("n_chars")).as("n_chars"))
      val v2 = v1.filter(col("doc_id") % 13 =!= 0)
      Seq(v0, v1, v2).foreach(Sinks.writeSnapshot(_, s"$root/documents"))
    } + "/documents"

  /** Time travel over the snapshot log ([[Sinks.readSnapshotAsOf]]): read
    * the table AS OF v1 while the log has moved on to v2 — the
    * reproducibility primitive (pin the exact corpus state a model
    * trained on) and the undo primitive (read past a bad commit). Version
    * resolution is driver-side metadata; the scan reads ONE version
    * directory. The in-build assert pins that the travelled read really
    * differs from the latest (v2 deleted rows that v1 still has); the
    * DuckDB mirror recomputes v1 from the source table, so the hash match
    * proves the log returned exactly the committed v1 state. */
  val q144TimeTravel: QuerySpec = QuerySpec.oracle(
    "q144_time_travel",
    """SELECT doc_id, text, lang,
      |  CASE WHEN lang = 'fr' THEN 'rev1' ELSE source END AS source,
      |  CASE WHEN lang = 'fr' THEN n_chars + 500 ELSE n_chars END AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val path = ensureSnapshots(spark, dir)
    val asOfV1 = Sinks.readSnapshotAsOf(spark, path, Some(1))
    val latest = Sinks.readSnapshotAsOf(spark, path)
    require(latest.count() < asOfV1.count(),
      "q144: time travel vacuous — latest snapshot should have deletions v1 lacks")
    asOfV1.orderBy("doc_id")
  }

  /** Cross-snapshot manifest diff — q138's incremental-verification story
    * completed: the v0 and latest (v2) manifests full-outer joined on the
    * partition key, each partition classified added / removed / changed /
    * unchanged. The 'fr' re-sourcing moves whole partitions ACROSS keys
    * (removed + added pairs), the every-13th delete perturbs counts and
    * checksums in place (changed), everything else must read unchanged —
    * and only the non-unchanged partitions would need a re-read or
    * re-replication at 100 TB. The joined relation is manifest-sized
    * (partition count rows), never corpus-sized. */
  val q145SnapshotDiff: QuerySpec = QuerySpec.oracle(
    "q145_snapshot_diff",
    s"""WITH v2 AS (
       |  SELECT doc_id, text, lang,
       |    CASE WHEN lang = 'fr' THEN 'rev1' ELSE source END AS source,
       |    CASE WHEN lang = 'fr' THEN n_chars + 500 ELSE n_chars END AS n_chars
       |  FROM documents WHERE doc_id % 13 <> 0),
       |m0 AS (${manifestSql("documents")}),
       |m2 AS (${manifestSql("v2")})
       |SELECT coalesce(m0.lang, m2.lang) AS lang,
       |  coalesce(m0.source, m2.source) AS source,
       |  m0.n_docs AS n_docs_a, m2.n_docs AS n_docs_b,
       |  m0.checksum AS checksum_a, m2.checksum AS checksum_b,
       |  CASE WHEN m0.lang IS NULL THEN 'added'
       |       WHEN m2.lang IS NULL THEN 'removed'
       |       WHEN m0.n_docs <> m2.n_docs OR m0.n_chars <> m2.n_chars
       |            OR m0.checksum <> m2.checksum THEN 'changed'
       |       ELSE 'unchanged' END AS status
       |FROM m0 FULL JOIN m2 ON m0.lang = m2.lang AND m0.source = m2.source
       |ORDER BY lang, source""".stripMargin
  ) { (spark, dir) =>
    val path = ensureSnapshots(spark, dir)
    val m0 = manifestOf(Sinks.readSnapshotAsOf(spark, path, Some(0)))
      .select(col("lang").as("lang_a"), col("source").as("source_a"),
        col("n_docs").as("n_docs_a"), col("n_chars").as("n_chars_a"),
        col("checksum").as("checksum_a"))
    val m2 = manifestOf(Sinks.readSnapshotAsOf(spark, path))
      .select(col("lang").as("lang_b"), col("source").as("source_b"),
        col("n_docs").as("n_docs_b"), col("n_chars").as("n_chars_b"),
        col("checksum").as("checksum_b"))
    m0.join(m2, col("lang_a") === col("lang_b") && col("source_a") === col("source_b"),
        "full_outer")
      .select(
        coalesce(col("lang_a"), col("lang_b")).as("lang"),
        coalesce(col("source_a"), col("source_b")).as("source"),
        col("n_docs_a"), col("n_docs_b"), col("checksum_a"), col("checksum_b"),
        when(col("lang_a").isNull, "added")
          .when(col("lang_b").isNull, "removed")
          .when(col("n_docs_a") =!= col("n_docs_b") ||
            col("n_chars_a") =!= col("n_chars_b") ||
            col("checksum_a") =!= col("checksum_b"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy("lang", "source")
  }

  /** Compression-ratio quality report
    * ([[graft.functions.CompressionSignalExpression]]): per (lang, source)
    * partition, total raw vs deflated bytes, the aggregate ratio, and how
    * many documents fall under the boilerplate fence (per-doc ratio
    * < 0.35 — templated/repetitive text collapses under deflate while
    * prose holds a stable fraction). One scan, one codegen'd kernel call
    * per row, map-side-combined aggregate. Rows-only by declared
    * contract: deflate output is deterministic per zlib build but not a
    * cross-engine constant, and DuckDB exposes no deflate to mirror —
    * CompressionSignalSpec pins the separation claims instead. */
  val q146CompressionQuality: QuerySpec = QuerySpec.rowsOnly(
    "q146_compression_quality"
  ) { (spark, dir) =>
    import graft.functions.CompressionSignalExpression.deflateLen
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        deflateLen(col("text")).cast("long").as("n_deflate"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(col("n_deflate")).as("n_deflate"),
        count(when(col("n_deflate").cast("double") <
          col("n_bytes").cast("double") * 0.35, 1)).as("n_boilerplate"))
      .withColumn("ratio",
        col("n_deflate").cast("double") / col("n_bytes").cast("double"))
      .orderBy("lang", "source")
  }

  /** The corpus's cleaned (post-T1–T4) vocabulary. The testdata generator
    * writes documents from a FIXED word list, so the distinct cleaned token
    * set is the SAME 29 words at every scale factor (verified across
    * sf0.001/0.01/0.1) — the boundedness that makes the stemmer
    * oracle-expressible below. */
  private[graft] val CorpusCleanVocab: Seq[String] = Seq(
    "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "value", "vector", "window")

  /** The reference's full `_clean_tweet` end state incl. Porter stemming
    * (T1→T5). DuckDB's snowball `stem(t,'porter')` would be the natural
    * oracle but it lives in the `fts` extension, which the offline
    * environment cannot install (verified: auto-install fails with no
    * egress) — instead the oracle carries a generated (token → stem)
    * dictionary over [[CorpusCleanVocab]], the stems computed at spec
    * construction by the SAME published-1980-test-vector-verified Scala
    * stemmer the Spark side runs (q166's literal-embedding trick: shared
    * constants generated once, embedded in both engines). A corpus token
    * outside the dictionary maps to a loud '??'-prefixed sentinel, so
    * generator drift fails the hash instead of silently passing;
    * PorterStemmerSpec pins dictionary coverage of the real corpus. */
  val q26StemmedTokens: QuerySpec = {
    val dict = CorpusCleanVocab.map(t => t -> graft.functions.PorterStemmer.stem(t))
    val keys = dict.map(x => s"'${x._1}'").mkString(", ")
    val vals = dict.map(x => s"'${x._2}'").mkString(", ")
    QuerySpec.oracle(
      "q26_stemmed_tokens",
      s"""WITH toks AS (SELECT doc_id, $CleanToksSql AS ts FROM documents)
         |SELECT doc_id,
         |  array_to_string(list_transform(ts,
         |    t -> coalesce(map_extract(map([$keys], [$vals]), t)[1], '??' || t)), ' ')
         |    AS stemmed,
         |  CAST(len(ts) AS BIGINT) AS n_tokens
         |FROM toks ORDER BY doc_id""".stripMargin
    ) { (spark, dir) =>
      // sort-first, the q23 pattern (see q20)
      Tables.documents(spark, dir)
        .orderBy("doc_id")
        .select(col("doc_id"),
          concat_ws(" ", cleanStemmedTokens(col("text"))).as("stemmed"),
          asLong(size(TextFns.cleanStemmedTokens(col("text")))).as("n_tokens"))
    }
  }

  /** Corpus-statistics join: global token document-frequencies joined back
    * per token occurrence → a per-doc rarity (quality) score. The join is
    * token-keyed (hash shuffle on the token; the document-frequency side is
    * the corpus vocabulary, so its join strategy is left to AQE rather than
    * force-broadcast); per-term doubles are rounded then decimal-summed so
    * the score is order-independent and engine-exact. */
  val q27TokenRarity: QuerySpec = QuerySpec.oracle(
    "q27_token_rarity",
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct($CleanToksSql)) AS t FROM documents),
       |df AS (SELECT t, count(*) AS dfreq FROM toks GROUP BY t),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT toks.doc_id,
       |    CAST(round(1.0 - dfreq / n_docs, 8) AS DECIMAL(18,8)) AS rar
       |  FROM toks JOIN df ON toks.t = df.t CROSS JOIN n)
       |SELECT doc_id, count(*) AS n_distinct_tokens,
       |  CAST(sum(rar) AS DOUBLE) / count(*) AS rarity
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(cleanTokens(col("text")))).as("t"))
    val dfreq = toks.groupBy("t").agg(count(lit(1)).as("dfreq"))
    // lazy scalar: a 1-row broadcast cross join, not an eager docs.count()
    // at build time (mirrors the oracle's CROSS JOIN n subquery)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // dfreq is the corpus vocabulary — unbounded at scale, so no broadcast
    // hint: the join key is already hash-partitionable and AQE picks BHJ
    // when the stats say it fits (and SMJ when they don't).
    toks.join(dfreq, "t")
      .crossJoin(broadcast(nDocs))
      .withColumn("rar", round(lit(1.0) - col("dfreq") / col("n_docs"), 8).cast("decimal(18,8)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_tokens"),
        (sum(col("rar")).cast("double") / count(lit(1))).as("rarity"))
      .orderBy("doc_id")
  }

  /** Token counting two ways (north-star "token counting: whitespace + a
    * BPE-ish regex"): whitespace splits vs a GPT-2-style pre-tokenizer
    * pattern (letter runs / digit runs / punctuation runs with leading
    * space, contraction suffixes). RE2 (DuckDB) and Java regex agree on
    * this subset — no lookaheads used. */
  val q28TokenCounts: QuerySpec = QuerySpec.oracle(
    "q28_token_counts", {
      // leading '' escapes the contraction apostrophe inside the SQL literal
      val bpeSql = raw"''[sdmt]| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"
      s"""SELECT doc_id,
         |  CAST(len(list_filter(str_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$bpeSql')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin
    }
  ) { (spark, dir) =>
    val bpe = "'[sdmt]| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
    // sort-first, the q23 pattern (see q20)
    Tables.documents(spark, dir)
      .orderBy("doc_id")
      .select(col("doc_id"),
        asLong(size(filter(split(col("text"), "\\s+"), t => t =!= ""))).as("n_ws_tokens"),
        asLong(regexp_count(col("text"), lit(bpe))).as("n_bpe_tokens"),
        asLong(length(col("text"))).as("n_chars"))
  }

  /** Context/document assembly: per (lang, source), concatenate texts in
    * doc_id order — the "build one training context from many docs" step.
    * Deterministic: the order key is unique, array_sort on (doc_id, text)
    * structs mirrors DuckDB's ORDER BY inside string_agg. One hash shuffle
    * on the group key; the concatenation is a plain aggregate buffer. */
  val q29DocAssembly: QuerySpec = QuerySpec.oracle(
    "q29_doc_assembly",
    """SELECT lang, source, count(*) AS n_docs,
      |  string_agg(text, chr(10) ORDER BY doc_id) AS assembled,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          s => s.getField("text")), "\n").as("assembled"),
        asLong(sum(length(col("text")))).as("n_chars"))
      .orderBy("lang", "source")
  }

  /** Vocabulary construction + out-of-vocabulary rate: top-1000 corpus
    * tokens by frequency (total order: count desc, token — no ranking
    * ties), then each doc's OOV fraction against that vocab. The vocab is
    * BOUNDED by the literal limit, so broadcasting it is safe by
    * construction — the tokenizer-building step of a training pipeline. */
  val q37VocabOov: QuerySpec = QuerySpec.oracle(
    "q37_vocab_oov",
    s"""WITH toks AS (SELECT doc_id, unnest($CleanToksSql) AS t FROM documents),
       |cnt AS (SELECT t, count(*) AS n FROM toks GROUP BY t),
       |vocab AS (SELECT t, 1 AS in_v FROM cnt ORDER BY n DESC, t LIMIT 1000)
       |SELECT doc_id, count(*) AS n_tok,
       |  count(*) FILTER (WHERE in_v IS NULL) AS n_oov,
       |  CAST(count(*) FILTER (WHERE in_v IS NULL) AS DOUBLE) / count(*) AS oov_rate
       |FROM toks LEFT JOIN vocab USING (t)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(cleanTokens(col("text"))).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(1000)
      .select(col("t"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        count(when(col("in_v").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tok"))
      .orderBy("doc_id")
  }

  /** Quality filtering with an audit trail: every doc gets the LIST of
    * failed rules (empty → keep), not just a boolean — the reviewable form
    * a production data pipeline needs. Rules reuse q21's engine-exact ratio
    * arithmetic, so the keep/drop decision is identical in DuckDB. */
  val q39QualityFilter: QuerySpec = QuerySpec.oracle(
    "q39_quality_filter",
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    $RawStatsSql
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang, n_chars, n_tokens,
       |    list_filter([
       |      CASE WHEN n_tokens < 5 THEN 'too_short' END,
       |      CASE WHEN n_chars > 20000 THEN 'too_long' END,
       |      CASE WHEN n_punct / greatest(n_chars, 1) > 0.3 THEN 'too_punct' END,
       |      CASE WHEN n_stop / greatest(n_tokens, 1) < 0.01 THEN 'low_stopwords' END
       |    ], x -> x IS NOT NULL) AS reasons
       |  FROM t)
       |SELECT doc_id, lang, n_chars, n_tokens,
       |  coalesce(array_to_string(reasons, ','), '') AS drop_reasons,
       |  len(reasons) = 0 AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val stats = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("lang")) ++ rawStatsCols: _*)
    val reasons = filter(array(
      when(col("n_tokens") < 5, lit("too_short")),
      when(col("n_chars") > 20000, lit("too_long")),
      when(col("n_punct") / greatest(col("n_chars"), lit(1)) > 0.3, lit("too_punct")),
      when(col("n_stop") / greatest(col("n_tokens"), lit(1)) < 0.01, lit("low_stopwords"))
    ), x => x.isNotNull)
    stats.select(col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"),
        concat_ws(",", reasons).as("drop_reasons"),
        (size(reasons) === 0).as("keep"))
      .orderBy("doc_id")
  }

  /** Repetition signals (the MassiveText/Gopher-style repetition filters,
    * adapted to token level for a single-line corpus): distinct-token ratio,
    * most-frequent-token fraction, and duplicate-bigram fraction. Everything
    * is per-row array arithmetic inside one codegen'd scan — no shuffle but
    * the presentation sort; the per-row work is O(distinct·n) on short docs.
    * A crawl dump is filtered on exactly these columns before training. */
  val q47RepetitionSignals: QuerySpec = QuerySpec.oracle(
    "q47_repetition_signals",
    raw"""WITH toks AS (
       |  SELECT doc_id, list_filter(str_split_regex(lower(text), '\W+'), t -> t <> '') AS ts
       |  FROM documents),
       |t AS (SELECT doc_id, ts,
       |    CAST(len(ts) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
       |    CAST(coalesce(list_max(list_transform(list_distinct(ts),
       |        u -> len(list_filter(ts, x -> x = u)))), 0) AS BIGINT) AS top_tok,
       |    CASE WHEN len(ts) >= 2
       |      THEN list_transform(generate_series(1, len(ts) - 1), i -> concat_ws(' ', ts[i], ts[i+1]))
       |      ELSE [] END AS bgs
       |  FROM toks)
       |SELECT doc_id, n_tokens, n_distinct,
       |  n_distinct / greatest(n_tokens, 1) AS distinct_ratio,
       |  top_tok / greatest(n_tokens, 1) AS top_token_frac,
       |  CAST(len(bgs) AS BIGINT) AS n_bigrams,
       |  (CAST(len(bgs) AS BIGINT) - CAST(len(list_distinct(bgs)) AS BIGINT))
       |    / greatest(CAST(len(bgs) AS BIGINT), 1) AS dup_bigram_frac
       |FROM t ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val ts = filter(split(lower(col("text")), "\\W+"), t => t =!= "")
    // sort-first, the q23 pattern (see q20)
    Tables.documents(spark, dir)
      .orderBy("doc_id")
      .select(col("doc_id"), ts.as("ts"))
      .select(col("doc_id"), col("ts"),
        asLong(size(col("ts"))).as("n_tokens"),
        asLong(size(array_distinct(col("ts")))).as("n_distinct"),
        asLong(topTokenCount(col("ts"))).as("top_tok"),
        bigrams(col("ts")).as("bgs"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_distinct") / greatest(col("n_tokens"), lit(1))).as("distinct_ratio"),
        (col("top_tok") / greatest(col("n_tokens"), lit(1))).as("top_token_frac"),
        asLong(size(col("bgs"))).as("n_bigrams"),
        ((asLong(size(col("bgs"))) - asLong(size(array_distinct(col("bgs")))))
          / greatest(asLong(size(col("bgs"))), lit(1))).as("dup_bigram_frac"))
  }

  /** PII detection + redaction: emails, IPv4 addresses, and phone-shaped
    * numbers are counted then replaced with typed placeholders — the scrub
    * pass a web corpus takes before any training run. The synthetic corpus
    * contains no PII, so each doc is deterministically augmented with
    * doc_id-derived fake contact data FIRST (same expression in both
    * engines); the scrub chain then provably removes what was planted.
    * Patterns stay in the RE2-compatible subset (no backrefs, no lookahead)
    * so Java and DuckDB regex engines agree; order matters — emails before
    * IPs before phones, so the email's domain dots can't be half-eaten as
    * an IP. One codegen'd scan, no shuffle. */
  val q48PiiScrub: QuerySpec = QuerySpec.oracle(
    "q48_pii_scrub", {
      // the oracle scrubs with literally the same patterns the engine uses
      val email = EmailPattern
      val ip = Ipv4Pattern
      val phone = PhonePattern
      raw"""WITH a AS (
         |  SELECT doc_id, concat(text, ' contact u', doc_id, '@mail', doc_id % 7,
         |    '.com or 555-', lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0'),
         |    ' ip 10.', doc_id % 256, '.0.', (doc_id * 3) % 256) AS aug
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(aug, '$ip')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(aug, '$phone')) AS BIGINT) AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(aug,
         |    '$email', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS scrubbed
         |FROM a ORDER BY doc_id""".stripMargin
    }
  ) { (spark, dir) =>
    val aug = concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
      lit("@mail"), (col("doc_id") % 7).cast("string"),
      lit(".com or 555-"), lpad(((col("doc_id") * 37) % 10000).cast("string"), 4, "0"),
      lit(" ip 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), ((col("doc_id") * 3) % 256).cast("string"))
    // sort-first, the q23 pattern (see q20)
    Tables.documents(spark, dir)
      .orderBy("doc_id")
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id") +: (piiCounts(col("aug")) :+ scrubPii(col("aug")).as("scrubbed")): _*)
  }

  /** Schema-evolution-tolerant scan (`Tables.readMergedParquet`) as a
    * declared oracle query — the data-lake reality where a table's schema
    * widens over time and a union read must surface old files' missing
    * columns as nulls instead of failing. The build materializes the
    * two-generation layout once per (dir): even doc_ids written with the
    * LEGACY two-column schema, odd with the current five-column one; the
    * merged read then aggregates per lang, where the NULL-lang bucket IS
    * the legacy generation. The DuckDB mirror needs no file paths: the
    * merged result is definitionally the original table with the widened
    * columns nulled on the legacy half, so the oracle derives the same
    * rows from `documents` with a CASE on the generation predicate —
    * verifying the Spark-side mergeSchema semantics against first
    * principles. Eager by design (the layout is staged once per
    * (session, dir) by [[Staged]], like q76); repeat builds are job-free. */
  val q79SchemaEvolution: QuerySpec = QuerySpec.oracle(
    "q79_schema_evolution",
    """SELECT CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
      |  count(*) AS n_docs,
      |  count(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS n_known,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "evolved") { root =>
      val docs = Tables.documents(spark, dir)
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        .write.mode("overwrite").parquet(s"$root/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$root/v2")
    }
    Tables.readMergedParquet(spark, s"$root/v1", s"$root/v2")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_known"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** ORC round-trip (`Sinks.writeOrc`/`readOrc`) as a declared oracle
    * query — Spark's second built-in columnar format, exercised
    * driver-visibly: documents written ONCE per (dir) through the sized ORC
    * sink (4 files, rows-per-file ceiling), read back through the ORC scan,
    * and aggregated; the DuckDB mirror runs the same aggregate over the
    * PARQUET source table, so a hash match proves the ORC round-trip is
    * lossless (values, types, nulls) without DuckDB ever reading ORC.
    * Eager by design (the sink write is staged once per (session, dir) by
    * [[Staged]], like q76/q79); repeat builds are job-free. */
  val q82OrcRoundtrip: QuerySpec = QuerySpec.oracle(
    "q82_orc_roundtrip",
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "orc") { root =>
      Sinks.writeOrc(Tables.documents(spark, dir), s"$root/documents", targetFiles = 4)
    }
    Sinks.readOrc(spark, s"$root/documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  private val documentsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))

  /** CSV round-trip ([[Tables.writeVersionedCsv]] — the reference's
    * versioned CSV sink, here with a declared consumer) verified at
    * per-ROW granularity: documents written once per (dir) as quoted
    * header CSV, read back with the EXPLICIT schema (inference would be
    * an extra full scan and would widen types from whatever it sampled),
    * and returned row-for-row; the DuckDB mirror returns the same rows
    * from the parquet source, so the hash match proves every value —
    * unicode text included — survived text serialization. The read-back
    * sets `multiLine` because quoted text MAY contain newlines (the
    * TablesSpec hostile-text case proves default line-splitting breaks
    * such rows); multiLine makes each file one task's unit — the price of
    * newline-bearing CSV, and why parquet is the analytic format and CSV
    * only the boundary one. Eager by design (layout staged once per
    * (session, dir) by [[Staged]], like q82). */
  val q86CsvRoundtrip: QuerySpec = QuerySpec.oracle(
    "q86_csv_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"
  ) { (spark, dir) =>
    val base = Staged(spark, dir, "csv") { base =>
      Tables.writeVersionedCsv(Tables.documents(spark, dir).coalesce(4), base, "v1")
    }
    spark.read.schema(documentsSchema)
      .option("header", "true").option("multiLine", "true").csv(s"$base/v1")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** JSON-lines round-trip ([[Sinks.writeJsonLines]]/`readJsonLines`),
    * same per-row lossless claim as q86 for the splittable
    * object-per-line interchange format. Eager by design (layout staged
    * once per (session, dir) by [[Staged]]). */
  val q87JsonRoundtrip: QuerySpec = QuerySpec.oracle(
    "q87_json_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "json") { root =>
      Sinks.writeJsonLines(Tables.documents(spark, dir), s"$root/documents", targetFiles = 4)
    }
    Sinks.readJsonLines(spark, s"$root/documents", documentsSchema)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** XML round-trip over Spark 4's BUILT-IN XML datasource (the spark-xml
    * donation, `format("xml")` with rowTag) — the fourth boundary format
    * beside CSV (q86), JSON-lines (q87) and ORC (q82), because upstream
    * document feeds still arrive as XML dumps (wiki exports, sitemaps,
    * TEI corpora). Same per-row lossless claim as q86: written once per
    * (dir), read back with the EXPLICIT schema and compared row-for-row
    * against the parquet source, so the hash match proves every value —
    * unicode text included — survived markup escaping both ways. The
    * fixture text is verified markup-free-hostile anyway (entities and
    * angle brackets escape/unescape symmetrically). Eager by design
    * (layout staged once per (session, dir) by [[Staged]], like
    * q82/q86/q87). */
  val q179XmlRoundtrip: QuerySpec = QuerySpec.oracle(
    "q179_xml_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "xml") { root =>
      Tables.documents(spark, dir).coalesce(4).write
        .format("xml").option("rowTag", "doc").option("rootTag", "documents")
        .mode("overwrite").save(s"$root/documents")
    }
    spark.read.schema(documentsSchema)
      .format("xml").option("rowTag", "doc").load(s"$root/documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Hive-style partition PRUNING ([[Sinks.writeParquetPartitioned]]) as a
    * declared oracle query — the classic warehouse layout: documents
    * written ONCE per (dir) into `lang=.../` directories, read back with a
    * lang predicate, so the planner prunes whole directories before any
    * task launches. The in-build require (same pattern as q76's
    * zero-Exchange assert) pins the contract on every build: the scan must
    * carry non-empty `PartitionFilters` AND the filtered file listing must
    * select strictly fewer partitions than the total — a layout or
    * inference regression that silently fell back to reading everything
    * would still return correct rows, which is exactly why only a plan
    * assert can catch it. The DuckDB mirror runs the same filter+aggregate
    * over the unpartitioned source table: partitioning is pure physical
    * design, same claim as q83. Eager by design (layout staged once per
    * (session, dir) by [[Staged]], like q76/q79/q82/q83). */
  val q85PartitionPrunedScan: QuerySpec = QuerySpec.oracle(
    "q85_partition_pruned_scan",
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang IN ('en', 'zh') GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "partitioned") { root =>
      Sinks.writeParquetPartitioned(Tables.documents(spark, dir), s"$root/documents", "lang",
        spreadCol = col("doc_id"), tasksPerValue = 2)
    }
    val agg = spark.read.parquet(s"$root/documents")
      .filter(col("lang").isin("en", "zh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
    val scan = agg.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(sys.error("q85: no FileSourceScanExec in the plan"))
    require(scan.partitionFilters.nonEmpty,
      s"q85: scan planned without PartitionFilters — pruning lost:\n${agg.queryExecution.sparkPlan}")
    val selected = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    require(selected < total,
      s"q85: partition pruning vacuous — selected $selected of $total partitions")
    agg
  }

  /** Two-dimensional selective scan over a DICTIONARY-z-ordered copy of
    * documents ([[Sinks.writeParquetZOrderedDict]]: lang and source rank-
    * coded, Morton-interleaved) — q83's layout claim generalized to the
    * string-typed columns a text corpus actually filters on: the
    * conjunctive (lang, source-range) predicate prunes at the file/row-
    * group level on BOTH dims, where a lang-sorted layout prunes on lang
    * only (SinksSpec measures the gap on exactly this table). The DuckDB
    * mirror runs the same filter+aggregate over the unordered source
    * table: dictionary z-ordering is pure physical design. Eager by
    * design (layout staged once per (session, dir) by [[Staged]]). */
  val q89ZOrderDictScan: QuerySpec = QuerySpec.oracle(
    "q89_zorder_dict_scan",
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang = 'es' AND source IN ('src3', 'src4', 'src5')
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "zdict") { root =>
      Sinks.writeParquetZOrderedDict(
        Tables.documents(spark, dir), s"$root/documents", partitions = 8, "lang", "source")
    }
    spark.read.parquet(s"$root/documents")
      .filter(col("lang") === "es" && col("source").isin("src3", "src4", "src5"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  /** Dynamic partition overwrite ([[Sinks.overwritePartitionsDynamic]]) as
    * a declared oracle query — the partition-level MERGE: the 'de'
    * partition of a lang-partitioned documents layout is re-scored
    * (source → 'patched', n_chars + 1000) by writing ONLY that partition
    * in dynamic mode; sibling partitions' files are proven byte-untouched
    * by an in-build name+mtime comparison, every first build. The query
    * returns the whole merged table; the DuckDB mirror derives the same
    * state from the source table with a CASE patch — so the hash match
    * proves the overwrite replaced exactly the patched partition and
    * nothing else. Patch rows derive from the SOURCE table; the layout is
    * staged once per (session, dir) by [[Staged]] like the other layout
    * builders (eager by design). */
  val q103PartitionOverwrite: QuerySpec = QuerySpec.oracle(
    "q103_partition_overwrite",
    """SELECT doc_id, text, lang,
      |  CASE WHEN lang = 'de' THEN 'patched' ELSE source END AS source,
      |  CASE WHEN lang = 'de' THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "dynpart") { root =>
      val path = s"$root/documents"
      Sinks.writeParquetPartitioned(Tables.documents(spark, dir), path, "lang",
        spreadCol = col("doc_id"), tasksPerValue = 2)
      def siblings: Seq[String] = new java.io.File(path).listFiles()
        .filter(f => f.isDirectory && f.getName != "lang=de")
        .flatMap(d => d.listFiles().map(f =>
          s"${d.getName}/${f.getName}@${f.lastModified}"))
        .sorted.toSeq
      val before = siblings
      val patch = Tables.documents(spark, dir).filter(col("lang") === "de")
        .withColumn("source", lit("patched"))
        .withColumn("n_chars", col("n_chars") + 1000)
      Sinks.overwritePartitionsDynamic(patch, path, "lang",
        spreadCol = col("doc_id"), tasksPerValue = 2)
      require(siblings == before,
        "q103: dynamic overwrite touched sibling partitions — mode not applied")
    }
    spark.read.parquet(s"$root/documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Small-file compaction ([[Sinks.compactParquet]]) as a declared
    * oracle query: the first build fragments documents into 64 shard
    * files (the streaming-sink accretion pattern), compacts them with
    * the zero-shuffle coalesce rewrite, and asserts the file count
    * actually collapsed; the query reads the compacted layout and the
    * hash match against the source table proves compaction is
    * value-neutral — pure physical design, like q83/q85/q89's layouts.
    * Staged once per (session, dir) by [[Staged]] (eager by design). */
  val q104Compaction: QuerySpec = QuerySpec.oracle(
    "q104_compaction",
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "compact") { root =>
      val path = s"$root/documents"
      Tables.documents(spark, dir).repartition(64)
        .write.mode("overwrite").parquet(path)
      def nFiles = new java.io.File(path).listFiles()
        .count(_.getName.endsWith(".parquet"))
      val before = nFiles
      require(before == 64, s"q104: fragmentation step wrote $before files")
      Sinks.compactParquet(spark, path, targetFileBytes = 8L << 20)
      require(nFiles < before / 4,
        s"q104: compaction left $nFiles of $before files — no collapse")
    }
    spark.read.parquet(s"$root/documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Data-quality gate ([[Quality]]) as a declared oracle query: a
    * five-rule expectation report over a corpus with PLANTED violations
    * (the driver tables are pristine — an all-zero report would verify
    * nothing — so both engines derive the same corrupted view from the
    * source: doc_ids 0-9 emptied, 10-19 duplicated, 20-29 given an
    * unknown lang, 30-39 a negative n_chars). Three predicate rules fuse
    * into ONE conditional-count scan; uniqueness adds a key-only
    * distinct; the referential rule (orphaned lineitems — 0, the clean
    * baseline among the planted reds) is a broadcast-able anti join on
    * the parent's key projection. */
  val q105QualityGate: QuerySpec = QuerySpec.oracle(
    "q105_quality_gate",
    """WITH corrupted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id < 10 THEN '' ELSE text END AS text,
      |    CASE WHEN doc_id BETWEEN 20 AND 29 THEN 'xx' ELSE lang END AS lang,
      |    source,
      |    CASE WHEN doc_id BETWEEN 30 AND 39 THEN -1 ELSE n_chars END AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  WHERE doc_id BETWEEN 10 AND 19)
      |SELECT 'dup_doc_id' AS rule,
      |  count(doc_id) - count(DISTINCT doc_id) AS n_violations FROM corrupted
      |UNION ALL SELECT 'empty_text',
      |  count(*) FILTER (WHERE length(text) = 0) FROM corrupted
      |UNION ALL SELECT 'lang_unknown',
      |  count(*) FILTER (WHERE lang NOT IN ('de','en','es','fr','zh')) FROM corrupted
      |UNION ALL SELECT 'n_chars_negative',
      |  count(*) FILTER (WHERE n_chars < 0) FROM corrupted
      |UNION ALL SELECT 'orphan_lineitem',
      |  (SELECT count(*) FROM lineitem l
      |   LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      |   WHERE o.o_orderkey IS NULL)
      |ORDER BY rule""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val corrupted = docs
      .withColumn("text", when(col("doc_id") < 10, lit("")).otherwise(col("text")))
      .withColumn("lang", when(col("doc_id").between(20, 29), lit("xx")).otherwise(col("lang")))
      .withColumn("n_chars", when(col("doc_id").between(30, 39), lit(-1L)).otherwise(col("n_chars")))
      .unionByName(docs.filter(col("doc_id").between(10, 19)))
    Quality.predicateReport(corrupted, Seq(
        "empty_text" -> (length(col("text")) === 0),
        "lang_unknown" -> !col("lang").isin("de", "en", "es", "fr", "zh"),
        "n_chars_negative" -> (col("n_chars") < 0)))
      .unionByName(Quality.duplicateKeyCount(corrupted, "doc_id", "dup_doc_id"))
      .unionByName(Quality.orphanCount(
        Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        "l_orderkey", "o_orderkey", "orphan_lineitem"))
      .orderBy("rule")
  }

  /** Sentence-level statistics — the quality signal q21's char/token
    * ratios can't see (Gopher-style filters threshold on MEAN WORDS PER
    * SENTENCE; a wall of 3-word fragments and a normal paragraph can
    * share identical char/token counts). Sentences are terminator-split
    * fragments ('[.!?]+' — literal inside a class, so Java and RE2 agree),
    * exploded to rows and tokenized by the corpus tokenizer — explode +
    * codegen'd split/size, no nested lambdas; empty fragments (trailing
    * terminators) drop before aggregation so a doc with no terminator is
    * one sentence, never zero. Per-row fan-out bounded by sentences per
    * doc; one doc-keyed aggregation. */
  val q112SentenceStats: QuerySpec = QuerySpec.oracle(
    "q112_sentence_stats",
    raw"""WITH frag AS (
       |  SELECT doc_id, unnest(str_split_regex(text, '[.!?]+')) AS frag
       |  FROM documents),
       |ftok AS (SELECT doc_id,
       |    len(list_filter(str_split_regex(lower(frag), '\W+'), t -> t <> '')) AS n_toks
       |  FROM frag),
       |ne AS (SELECT doc_id, n_toks FROM ftok WHERE n_toks > 0)
       |SELECT doc_id, count(*) AS n_sentences,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(max(n_toks) AS BIGINT) AS max_sentence_tokens,
       |  CAST(sum(n_toks) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_sentence_tokens
       |FROM ne GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  ) { (spark, dir) =>
    val ftok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "[.!?]+")).as("frag"))
      .select(col("doc_id"),
        size(filter(split(lower(col("frag")), "\\W+"), t => t =!= "")).as("n_toks"))
      .filter(col("n_toks") > 0)
    ftok.groupBy("doc_id")
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("n_toks")).as("n_tokens"),
        asLong(max(col("n_toks"))).as("max_sentence_tokens"),
        (sum(col("n_toks")).cast("double")
          / count(lit(1)).cast("double")).as("avg_sentence_tokens"))
      .orderBy("doc_id")
  }

  /** Per-partition compaction ([[Sinks.compactParquetPartitioned]]) as a
    * declared oracle query — the maintenance leg q104's flat rewrite
    * refuses on the very layout q85/q103 recommend. The first build writes
    * a lang-partitioned documents layout deliberately fragmented via the
    * NAIVE unaligned write ([[Sinks.writeParquetPartitioned]]'s scaladoc
    * explosion: 16 explicit spread tasks × partitionBy → up to 16 files
    * per lang — the accretion pattern of an unaligned per-task or
    * streaming writer), compacts it per partition,
    * and asserts every partition's file count collapsed while the Hive
    * directory set (the pruning layout) is unchanged; then a SECOND
    * compaction pass is proven a no-op by name+mtime comparison — the
    * skip-untouched-partitions contract, same assert shape as q103's
    * sibling check. The query reads the maintained layout and the hash
    * match against the source table proves per-partition compaction is
    * value-neutral and keeps the partition column readable — pure
    * physical design. Staged once per (session, dir) by [[Staged]] (eager
    * by design). */
  val q120CompactionPartitioned: QuerySpec = QuerySpec.oracle(
    "q120_compaction_partitioned",
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"
  ) { (spark, dir) =>
    val root = Staged(spark, dir, "compactpart") { root =>
      val path = s"$root/documents"
      Tables.documents(spark, dir).repartition(16, col("doc_id"))
        .write.mode("overwrite").partitionBy("lang").parquet(path)
      def layout: Map[String, Seq[String]] = new java.io.File(path).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("lang="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}@${f.lastModified}").sorted.toSeq).toMap
      val before = layout
      // fragmentation is only guaranteed where there are rows to spread: a
      // rare lang can land in ≤4 of the 16 hash buckets at small/skewed
      // scale factors, so assert the WORST partition fragmented (that's
      // what the compaction must fix) rather than demanding every
      // partition did
      require(before.nonEmpty && before.values.map(_.size).max > 4,
        s"q120: fragmentation step too tame: ${before.view.mapValues(_.size).toMap}")
      Sinks.compactParquetPartitioned(spark, path, targetFileBytes = 8L << 20)
      val after = layout
      require(after.keySet == before.keySet,
        "q120: compaction changed the partition directory set — pruning layout lost")
      // fragmented partitions must collapse; sparse ones (already at or
      // under target) may be skipped byte-untouched, but none may grow
      require(after.forall { case (p, fs) =>
          if (before(p).size > 4) fs.size < before(p).size
          else fs.size <= before(p).size },
        s"q120: no per-partition collapse: ${after.view.mapValues(_.size).toMap}")
      // a second pass must skip every (already-compact) partition:
      // names AND mtimes byte-identical, no rewrite IO
      Sinks.compactParquetPartitioned(spark, path, targetFileBytes = 8L << 20)
      require(layout == after,
        "q120: re-compaction touched already-compact partitions — skip contract broken")
    }
    spark.read.parquet(s"$root/documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** The composed corpus-construction audit — the end-to-end accounting a
    * training-data pipeline actually reports: every document flows through
    * the QUALITY gate (q39's exact rule arithmetic) then EXACT DEDUP (q30's
    * min-id-per-text convention, applied to survivors only), and the output
    * is the per-(lang, source) funnel — raw → clean → kept doc counts plus
    * kept token mass, the numbers a mixture step (q52) consumes. Reusing
    * q39/q30's engine-matched arithmetic means the whole composition stays
    * bit-identical in DuckDB — the oracle verifies the PIPELINE, not just
    * its stages.
    *
    * Shape at scale: one scan computes the stats columns; the only
    * corpus-sized shuffle is the dedup groupBy on text (the same key q30
    * pays) plus the winner join back on doc_id; both accounting aggregates
    * are keyed by the bounded (lang, source) set and the final join moves
    * rows proportional to that set, never the corpus. */
  val q124PipelineCorpus: QuerySpec = QuerySpec.oracle(
    "q124_pipeline_corpus",
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, text,
       |    $RawStatsSql
       |  FROM documents),
       |r AS (
       |  SELECT *, (n_tokens >= 5 AND n_chars <= 20000
       |    AND n_punct / greatest(n_chars, 1) <= 0.3
       |    AND n_stop / greatest(n_tokens, 1) >= 0.01) AS keep
       |  FROM t),
       |k AS (SELECT min(doc_id) AS doc_id FROM r WHERE keep GROUP BY text),
       |w AS (SELECT r.lang, r.source, r.n_tokens FROM r JOIN k USING (doc_id)),
       |base AS (
       |  SELECT lang, source, count(*) AS n_raw,
       |    count(*) FILTER (WHERE keep) AS n_clean
       |  FROM r GROUP BY 1, 2),
       |kept AS (
       |  SELECT lang, source, count(*) AS n_kept,
       |    CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
       |  FROM w GROUP BY 1, 2)
       |SELECT lang, source, n_raw, n_clean,
       |  coalesce(n_kept, 0) AS n_kept,
       |  coalesce(kept_tokens, 0) AS kept_tokens
       |FROM base LEFT JOIN kept USING (lang, source)
       |ORDER BY lang, source""".stripMargin
  ) { (spark, dir) =>
    val stats = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("lang"), col("source"), col("text")) ++ rawStatsCols: _*)
    val r = stats.withColumn("keep",
      (col("n_tokens") >= 5) && (col("n_chars") <= 20000) &&
        (col("n_punct") / greatest(col("n_chars"), lit(1)) <= 0.3) &&
        (col("n_stop") / greatest(col("n_tokens"), lit(1)) >= 0.01))
    val winners = r.filter(col("keep"))
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val w = r.join(winners, Seq("doc_id")).select("lang", "source", "n_tokens")
    val base = r.groupBy("lang", "source").agg(
      count(lit(1)).as("n_raw"),
      count(when(col("keep"), 1)).as("n_clean"))
    val kept = w.groupBy("lang", "source").agg(
      count(lit(1)).as("n_kept"),
      sum(col("n_tokens")).as("kept_tokens"))
    base.join(kept, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_raw"), col("n_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("lang", "source")
  }

  /** The CAPSTONE composition — the full corpus-construction pipeline a
    * training run consumes, end to end in ONE declared query: quality
    * gate (q39's rules) → exact min-id dedup among survivors (q30) →
    * exact-text decontamination against the held-out eval slice (source
    * 'src0' plays the benchmark; the production bloom direction is
    * q51/q75) → SUB-DOCUMENT span dedup over the survivors (q125/q126's
    * Lee-et-al machinery: duplicated ≥15-token runs cut from the
    * higher-id copy, so the pack weight is the post-scrub token count) →
    * per-lang 512-token sequence packing over the scrubbed stream (q36's
    * STRIPED prefix sum) → the final SHARD MANIFEST: one row per
    * (lang, pack) with its document count, kept-token mass, and doc-id
    * span — exactly the table a trainer's data loader mounts. Every
    * stage is the already-verified operator; the hash-matched
    * composition proves the stages agree END TO END (filters feeding the
    * dedup, dedup feeding the decon, decon feeding the span scrub, scrub
    * feeding the pack), not just in isolation. Corpus-scale shuffles:
    * the stats scan, the dedup text key, the decon text anti-join, the
    * span gram groupBy (BottomKRows-bounded state), and the striped pack
    * — each linear. The scrub's clean_text reconstruction is PRUNED
    * (only n_toks/n_removed are consumed), so the stage costs its
    * interval arithmetic, not a corpus rewrite. */
  val q157CorpusShards: QuerySpec = QuerySpec.oracle(
    "q157_corpus_shards",
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, text,
       |    $RawStatsSql
       |  FROM documents WHERE source <> 'src0'),
       |r AS (
       |  SELECT *, (n_tokens >= 5 AND n_chars <= 20000
       |    AND n_punct / greatest(n_chars, 1) <= 0.3
       |    AND n_stop / greatest(n_tokens, 1) >= 0.01) AS keep
       |  FROM t),
       |k AS (SELECT min(doc_id) AS doc_id FROM r WHERE keep GROUP BY text),
       |ev AS (SELECT DISTINCT text FROM documents WHERE source = 'src0'),
       |s AS MATERIALIZED (
       |  SELECT r.doc_id, r.lang, r.text FROM r
       |  JOIN k USING (doc_id)
       |  WHERE r.text NOT IN (SELECT text FROM ev)),
       |${DedupQueries.spanCtes(DedupQueries.SpanK, DedupQueries.SpanMaxOcc,
            DedupQueries.SpanMin, from = "s")},
       |iv AS (SELECT id_b AS doc, start_b AS st, start_b + span_toks - 1 AS e FROM spans),
       |mx AS (SELECT doc, st, e, max(e) OVER (PARTITION BY doc ORDER BY st, e
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM iv),
       |isl2 AS (SELECT doc, st, e, sum(CASE WHEN pe IS NULL OR st > pe + 1 THEN 1 ELSE 0 END)
       |  OVER (PARTITION BY doc ORDER BY st, e ROWS UNBOUNDED PRECEDING) AS grp FROM mx),
       |mrg AS (SELECT doc, min(st) AS st, max(e) AS e FROM isl2 GROUP BY doc, grp),
       |scr AS (SELECT doc, CAST(sum(e - st + 1) AS BIGINT) AS n_removed FROM mrg GROUP BY doc),
       |sv AS (
       |  SELECT s.doc_id, s.lang,
       |    CAST(len(tk.ts) - coalesce(scr.n_removed, 0) AS BIGINT) AS kept_toks
       |  FROM s JOIN toks tk ON tk.doc_id = s.doc_id
       |  LEFT JOIN scr ON scr.doc = s.doc_id),
       |c AS (
       |  SELECT doc_id, lang, kept_toks,
       |    coalesce(sum(kept_toks) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM sv)
       |SELECT lang, CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id,
       |  count(*) AS n_docs, CAST(sum(kept_toks) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2
       |ORDER BY lang, pack_id""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val stats = docs.filter(col("source") =!= "src0")
      .select(Seq(col("doc_id"), col("lang"), col("source"), col("text")) ++ rawStatsCols: _*)
    val r = stats.withColumn("keep",
      (col("n_tokens") >= 5) && (col("n_chars") <= 20000) &&
        (col("n_punct") / greatest(col("n_chars"), lit(1)) <= 0.3) &&
        (col("n_stop") / greatest(col("n_tokens"), lit(1)) >= 0.01))
    val winners = r.filter(col("keep"))
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val evalTexts = docs.filter(col("source") === "src0").select("text").distinct()
    // the gate→dedup→decon prefix cut behind ONE lazy checkpoint (r21):
    // three consumers reference the survivor set — the span-pair gram
    // machinery, the scrub's own re-tokenization, and the pack stage's
    // (doc_id, lang) join — and each re-ran the stats scan + text groupBy +
    // two joins per evaluation. The materialized cut is the gated survivor
    // relation a production capstone persists anyway before sharding.
    // doc_id-keyed repartition before the cut (r22): AQE coalesced the
    // checkpoint to ONE partition, which pinned the downstream gram stages
    // to one task — the serial stage VERDICT r21 item 2 flagged. In r21
    // this repartition measured 2.7× SLOWER because the gram stage was a
    // BottomKRows heap whose 32 partial heaps merge-shuffled ~32× the
    // single-partition state; with the two-pass count-prefiltered gram
    // build (Dedup.spanMatches, r22) there is no heap and every consumer
    // parallelizes over the cut. Keyed (hash) repartition, not
    // round-robin: no sort-before-repartition pass, deterministic
    // placement under retries (guide §2.5).
    val survivors = r.join(winners, Seq("doc_id"))
      .join(evalTexts, Seq("text"), "left_anti")
      .select("doc_id", "lang", "text")
      .repartition(col("doc_id"))
      .localCheckpoint(eager = false)
    // sub-document dedup over the survivor set: only (n_toks, n_removed)
    // are consumed, so the scrub's clean_text column prunes away
    val scrubbed = Dedup.spanScrub(survivors, "doc_id", "text",
        k = DedupQueries.SpanK, minSpan = DedupQueries.SpanMin,
        maxOcc = DedupQueries.SpanMaxOcc)
      .select(col("doc_id"), (col("n_toks") - col("n_removed")).as("kept_toks"))
    val sv = survivors.select("doc_id", "lang").join(scrubbed, Seq("doc_id"))
    val packed = StripedWindow.runningSum(
        StripedWindow.withRangeStripe(sv, "doc_id", 16),
        Seq("lang"), Seq(col("doc_id")), col("kept_toks"), "cum_before",
        includeCurrent = false)
      .withColumn("pack_id", floor(col("cum_before") / 512.0).cast("long"))
    packed.groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept_toks")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "pack_id")
  }

  val all: Seq[QuerySpec] = Seq(
    q20CleanText, q21TextStats, q22LangId, q23TokenEncode,
    q24DocFingerprint, q25DatasetFingerprint, q26StemmedTokens, q27TokenRarity,
    q28TokenCounts, q29DocAssembly, q37VocabOov, q39QualityFilter,
    q47RepetitionSignals, q48PiiScrub, q79SchemaEvolution, q82OrcRoundtrip,
    q85PartitionPrunedScan, q86CsvRoundtrip, q87JsonRoundtrip, q89ZOrderDictScan,
    q103PartitionOverwrite, q104Compaction, q105QualityGate, q112SentenceStats,
    q120CompactionPartitioned, q124PipelineCorpus, q138ManifestChecksums,
    q144TimeTravel, q145SnapshotDiff, q146CompressionQuality, q157CorpusShards,
    q179XmlRoundtrip)
}
