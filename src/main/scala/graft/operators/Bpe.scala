package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING as a distributed operator — the
  * step a large-scale pipeline runs once per corpus before any token
  * budget, packing (q36), or fertility accounting is meaningful.
  *
  * The production shape (and the only one that survives 100 TB): BPE never
  * iterates over the corpus. ONE corpus-scale aggregate builds the
  * (word, freq) vocabulary; every merge round after that is arithmetic
  * over the vocabulary relation — pair counting is an explode over
  * dictionary rows weighted by freq, and applying the winning merge is a
  * per-row string rewrite. This is exactly how reference trainers
  * (sentencepiece/HF tokenizers) are structured, re-expressed as Spark
  * aggregates; corpus size moves the ONE groupBy, vocabulary size moves
  * the rounds.
  *
  * Merge semantics are pinned cross-engine: symbol sequences are
  * single-space-joined with sentinel spaces (` a b c `); a merge rewrites
  * via the space-doubling trick — double every gap, replace
  * `␣a␣␣b␣ → ␣ab␣`, collapse doubles — so CONSECUTIVE pair occurrences
  * all merge in one pass (`a a a a → aa aa`, the left-to-right greedy BPE
  * result; a naive single replace would skip alternate occurrences
  * because the match consumes the shared boundary space). Ties on the
  * argmax break by pair string — fully deterministic, which is what lets
  * DuckDB verify the learned merge table bit-for-bit.
  */
object Bpe {

  /** ` a b c ` symbol-sequence form of a word (sentinel spaces). */
  def toSeq(word: Column): Column =
    concat(lit(" "), trim(regexp_replace(word, "(.)", "$1 ")), lit(" "))

  /** The lowercase-alpha word dictionary with frequencies (the ONE
    * corpus-scale aggregate), plus any extra group columns (e.g. lang)
    * for per-slice accounting. */
  def wordFreqs(docs: DataFrame, textCol: String, extraCols: Seq[String] = Nil): DataFrame =
    docs.select(extraCols.map(col) :+
        explode(split(lower(col(textCol)), "\\s+")).as("word"): _*)
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy((extraCols :+ "word").map(col): _*)
      .agg(count(lit(1)).as("freq"))

  /** Adjacent symbol pairs of a seq column (vocab-row fan-out ≤ word
    * length), 1-based like the SQL mirror. */
  private def pairsOf(seqs: DataFrame): DataFrame =
    // the single-symbol guard matters: sequence(1, 0) is a DESCENDING
    // Spark sequence (not empty), and ANSI element_at would then throw on
    // a fully-merged or one-letter word
    seqs.select(col("freq"),
      explode(expr(
        """CASE WHEN size(split(trim(seq), ' ')) < 2 THEN array()
          |ELSE transform(sequence(1, size(split(trim(seq), ' ')) - 1),
          |  i -> concat(element_at(split(trim(seq), ' '), i), ' ',
          |              element_at(split(trim(seq), ' '), i + 1))) END""".stripMargin)).as("pair"))

  /** One learned merge applied to a seq column (literals, codegen'd). */
  def applyMerge(seq: Column, pair: String): Column = {
    require(pair.matches("^[a-z]+ [a-z]+$"), s"malformed merge pair '$pair'")
    val doubled = lit(" " + pair.replace(" ", "  ") + " ")
    val merged = lit(" " + pair.replace(" ", "") + " ")
    replace(replace(replace(seq, lit(" "), lit("  ")), doubled, merged),
      lit("  "), lit(" "))
  }

  /** Fold a whole learned merge table over a seq column — the APPLY side
    * (tokenize-with-a-trained-tokenizer), a pure expression chain. */
  def applyMerges(seq: Column, pairs: Seq[String]): Column =
    pairs.foldLeft(seq)(applyMerge)

  /** Learn `n` merges from a (word, freq) vocabulary. Runs the rounds
    * EAGERLY (each round's argmax is a 1-row collect and the winning pair
    * must become a literal in the next round's rewrite — inherently
    * iterative, the q43 eager-index contract; per-round vocab relation is
    * checkpointed and the prior round's blocks freed, [[Graph.pageRank]]'s
    * discipline). Returns the merge table in rank order. */
  def learnMerges(vocab: DataFrame, n: Int): Seq[(Int, String, String, Long)] = {
    require(n >= 1, "need at least one merge round")
    def ckRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
        case _ => None
      }
    var seqs = vocab.select(col("freq"), toSeq(col("word")).as("seq")).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (i <- 1 to n) {
      val best = pairsOf(seqs)
        .groupBy("pair").agg(sum(col("freq")).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair"))
        .limit(1).collect()
      require(best.nonEmpty, s"vocabulary exhausted after ${i - 1} merges")
      val pair = best.head.getString(0)
      merges += ((i, pair, pair.replace(" ", ""), best.head.getLong(1)))
      val next = seqs.select(col("freq"), applyMerge(col("seq"), pair).as("seq"))
        .localCheckpoint()
      ckRdd(seqs).foreach(_.unpersist(blocking = false))
      seqs = next
    }
    ckRdd(seqs).foreach(_.unpersist(blocking = false))
    merges.result()
  }

  private val Rounds = 8

  private def bpeCtes(rounds: Int): String = {
    val head = Seq(
      raw"""w AS MATERIALIZED (
           |  SELECT unnest(str_split_regex(lower(text), '\s+')) AS word FROM documents)""".stripMargin,
      raw"""v AS MATERIALIZED (SELECT word, count(*) AS freq FROM w
           |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1)""".stripMargin,
      raw"""m0 AS MATERIALIZED (SELECT word, freq,
           |  ' ' || trim(regexp_replace(word, '(.)', '\1 ', 'g')) || ' ' AS seq FROM v)""".stripMargin)
    val iters = (0 until rounds).flatMap { i =>
      Seq(
        s"""pc$i AS MATERIALIZED (
           |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences FROM (
           |    SELECT freq, unnest(list_transform(range(1, len(syms)),
           |      i -> syms[i] || ' ' || syms[i + 1])) AS pair
           |    FROM (SELECT freq, str_split(trim(seq), ' ') AS syms FROM m$i))
           |  GROUP BY 1)""".stripMargin,
        s"""b$i AS MATERIALIZED (SELECT pair, n_occurrences FROM pc$i
           |  ORDER BY n_occurrences DESC, pair LIMIT 1)""".stripMargin,
        s"""m${i + 1} AS MATERIALIZED (SELECT word, freq,
           |  replace(replace(replace(seq, ' ', '  '),
           |    ' ' || replace((SELECT pair FROM b$i), ' ', '  ') || ' ',
           |    ' ' || replace((SELECT pair FROM b$i), ' ', '') || ' '),
           |    '  ', ' ') AS seq FROM m$i)""".stripMargin)
    }
    (head ++ iters).mkString("WITH ", ",\n", "")
  }

  /** The learned merge table itself, oracle-verified: DuckDB re-learns the
    * same `Rounds` merges from scratch (materialized CTE chain — the SAME
    * recurrence, generated like q136's) and both engines must produce the
    * identical ranked (pair, merged, n_occurrences) rows. */
  val q141BpeMerges: QuerySpec = QuerySpec.oracle(
    "q141_bpe_merges",
    bpeCtes(Rounds) + "\nSELECT * FROM (\n" +
      (0 until Rounds).map(i =>
        s"SELECT ${i + 1} AS merge_rank, pair, replace(pair, ' ', '') AS merged, n_occurrences FROM b$i")
        .mkString("\nUNION ALL\n") +
      "\n) ORDER BY merge_rank"
  ) { (spark, dir) =>
    val vocab = wordFreqs(Tables.documents(spark, dir), "text")
    val merges = learnMerges(vocab, Rounds)
    spark.createDataFrame(merges)
      .toDF("merge_rank", "pair", "merged", "n_occurrences")
      .orderBy("merge_rank")
  }

  /** Tokenizer-fertility report: tokens-per-word per language under the
    * trained tokenizer — the metric that decides whether a tokenizer is
    * fit for a multilingual mixture (a lang with 2× fertility pays 2× the
    * sequence budget for the same text). The APPLY side is a pure literal
    * expression chain ([[applyMerges]]) over the per-(lang, word)
    * dictionary — the corpus is never re-tokenized row by row; per-lang
    * token mass is dictionary token count × word frequency. */
  val q142BpeFertility: QuerySpec = QuerySpec.oracle(
    "q142_bpe_fertility",
    bpeCtes(Rounds) +
      s""",
         |wl AS MATERIALIZED (
         |  SELECT lang, unnest(str_split_regex(lower(text), '\\s+')) AS word FROM documents),
         |vl AS MATERIALIZED (SELECT lang, word, count(*) AS freq FROM wl
         |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1, 2)
         |SELECT vl.lang, CAST(sum(vl.freq) AS BIGINT) AS n_words,
         |  CAST(sum(vl.freq * len(str_split(trim(m.seq), ' '))) AS BIGINT) AS n_tokens,
         |  CAST(sum(vl.freq * len(str_split(trim(m.seq), ' '))) AS DOUBLE)
         |    / CAST(sum(vl.freq) AS DOUBLE) AS fertility
         |FROM vl JOIN m$Rounds m ON m.word = vl.word
         |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val merges = learnMerges(wordFreqs(docs, "text"), Rounds)
    val perLang = wordFreqs(docs, "text", extraCols = Seq("lang"))
      .withColumn("seq", applyMerges(toSeq(col("word")), merges.map(_._2)))
      .withColumn("n_tok", size(split(trim(col("seq")), " ")).cast("long"))
    perLang.groupBy("lang")
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_tok")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_words").cast("double")).as("fertility"))
      .orderBy("lang")
  }

  val all: Seq[QuerySpec] = Seq(q141BpeMerges, q142BpeFertility)
}
