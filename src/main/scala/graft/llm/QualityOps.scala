package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Tokenize

/** Round-4 corpus-quality operators: span-level dedup (the C4 shape),
  * rule-based quality gating (the Gopher shape), and weighted reservoir
  * sampling (Efraimidis–Spirakis).
  *
  * Scale posture matches the llm package: dedup units leave the scan as
  * md5 digests (text never rides a shuffle), per-row scoring is pure
  * column arithmetic inside whole-stage codegen, and sampling decisions
  * are pure functions of the row so they survive re-partitioning, task
  * retries, and corpus growth — and hash-match a DuckDB oracle.
  */
object QualityOps {

  private def tokens(c: org.apache.spark.sql.Column) = Tokenize.tokens(c)

  /** Span-level dedup report — the C4 move (Raffel et al. 2020 §2.2
    * dedup "three-sentence spans"; fixture text has no sentence
    * structure, so the span unit is the non-overlapping 20-token
    * window): a window whose exact text occurred earlier in the corpus
    * (earlier doc_id, then earlier offset) is a duplicate span, and each
    * document reports how much of it is duplicated matter. Downstream, a
    * cleaner drops flagged spans instead of whole documents — the reason
    * this beats doc-level exact dedup on boilerplate-heavy crawls.
    *
    * Plan shape: one scan; each window leaves the scan as (doc_id,
    * win_idx, md5) — 16-byte digests, never text; ONE exchange on the
    * digest where a row_number picks the canonical occurrence; then a
    * hash re-aggregation back to doc_id. Identical two-shuffle posture
    * to q79's gram filter, so the 100 TB cost is two narrow shuffles of
    * (digest, id) pairs. */
  def windowDedup(s: SparkSession, dir: String, win: Int = 20): DataFrame = {
    val wins = graft.Tables.tSpread(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((size(col("tk")) - 1) / win).cast("int"))).as("win_idx"),
        col("tk"))
      .select(col("doc_id"), col("win_idx"),
        md5(concat_ws(" ",
          slice(col("tk"), col("win_idx") * win + 1, lit(win)))).as("wd"))
    val wFirst = Window.partitionBy("wd").orderBy("doc_id", "win_idx")
    wins
      .withColumn("rn", row_number().over(wFirst))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        col("n_dup_windows").cast("double") / col("n_windows"))
      .withColumn("flag_dup_heavy", col("dup_frac") > 0.5)
      .orderBy("doc_id")
  }

  /** Rule-based quality gate — the Gopher filter shape (Rae et al. 2021
    * A1.1: word-count bounds, mean-word-length bounds, stop-word
    * presence), with thresholds scaled to the fixture's synthetic prose.
    * Real pipelines run exactly this cascade before any model-based
    * scoring because it is pure per-row column arithmetic: no shuffle,
    * no state, runs at scan speed inside whole-stage codegen at any
    * corpus size. Fractions are single exact divisions of integer
    * counts, so every value is cross-engine reproducible. */
  def gopherQuality(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "is")
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_words"),
        // sum of token lengths = the non-space char count
        // (SelectionOps.labeled's trick), codegen'd with no lambda
        length(translate(col("text"), " ", "")).cast("long").as("sum_wlen"),
        graft.functions.HashKernels.token_hits(col("text"), stop)
          .cast("long").as("n_stop"))
      .withColumn("mean_word_len",
        round(col("sum_wlen").cast("double") / col("n_words"), 4))
      .withColumn("stop_frac",
        round(col("n_stop").cast("double") / col("n_words"), 4))
      .withColumn("flag_word_count",
        col("n_words") >= 30 && col("n_words") <= 80)
      .withColumn("flag_mean_wlen",
        col("mean_word_len") >= 4.0 && col("mean_word_len") <= 5.0)
      .withColumn("flag_stop", col("n_stop") >= 2)
      .withColumn("keep",
        col("flag_word_count") && col("flag_mean_wlen") && col("flag_stop"))
      .drop("sum_wlen")
      .orderBy("doc_id")
  }

  /** Weighted reservoir sample — Efraimidis & Spirakis 2006: item i gets
    * key uᵢ^(1/wᵢ) for uniform uᵢ; the k largest keys are a weighted
    * random sample without replacement. Ranking on ln(u)/w (monotone in
    * the key) avoids the pow; the weight is n_chars, so longer docs are
    * proportionally likelier to be drawn — the "prefer substantive docs"
    * eval-pool draw. uᵢ comes from a Knuth multiplicative hash of doc_id
    * ((id·2654435761 + 40503) mod 2³², exact in 64-bit integer
    * arithmetic for id < 2³¹, documented bound), NOT rand(): the draw is
    * reproducible across engines, partitionings, and retries, which is
    * what makes a full hash oracle possible. Keys are rounded to 6dp
    * BEFORE ranking with doc_id tie-break (the q80 rule), so the
    * ranking is cross-engine deterministic. One shuffle on the stratum
    * key; per-stratum top-k via window rank, no global sort. */
  def weightedReservoir(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val h = pmod(col("doc_id") * lit(2654435761L) + lit(40503L),
      lit(4294967296L))
    val u = (h + lit(1L)).cast("double") / lit(4294967296.0)
    val w = Window.partitionBy("source")
      .orderBy(col("es_key").desc, col("doc_id"))
    t(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .withColumn("es_key", round(log(u) / col("n_chars"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"),
        col("es_key"))
      .orderBy("source", "rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_window_dedup" -> ((s, dir) => windowDedup(s, dir)),
    "q102_gopher_quality" -> gopherQuality,
    "q103_weighted_reservoir" -> ((s, dir) => weightedReservoir(s, dir)))

  val oracleSql: Map[String, String] = Map(
    "q101_window_dedup" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |            FROM documents),
        |w AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, CAST(ceil(len(tk) / 20.0) AS BIGINT)),
        |      i -> struct_pack(win_idx := i - 1,
        |        wd := md5(array_to_string(
        |          list_slice(tk, (i - 1) * 20 + 1, least(i * 20, len(tk))), ' '))))) AS s
        |  FROM tk WHERE len(tk) >= 1),
        |r AS (SELECT doc_id, row_number() OVER
        |    (PARTITION BY s.wd ORDER BY doc_id, s.win_idx) AS rn FROM w)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |    AS dup_frac,
        |  (CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) > 0.5
        |    AS flag_dup_heavy
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q102_gopher_quality" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |            FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(tk, w -> list_contains(
        |      ['the', 'a', 'of', 'to', 'and', 'in', 'is'], w))) AS BIGINT) AS n_stop,
        |    round(CAST(list_sum(list_transform(tk, w -> len(w))) AS DOUBLE)
        |      / len(tk), 4) AS mean_word_len
        |  FROM tk WHERE len(tk) >= 1)
        |SELECT doc_id, n_words, n_stop, mean_word_len,
        |  round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_frac,
        |  (n_words >= 30 AND n_words <= 80) AS flag_word_count,
        |  (mean_word_len >= 4.0 AND mean_word_len <= 5.0) AS flag_mean_wlen,
        |  (n_stop >= 2) AS flag_stop,
        |  ((n_words >= 30 AND n_words <= 80)
        |    AND (mean_word_len >= 4.0 AND mean_word_len <= 5.0)
        |    AND n_stop >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q103_weighted_reservoir" ->
      """WITH b AS (SELECT source, doc_id, n_chars,
        |    round(ln(CAST((doc_id * 2654435761 + 40503) % 4294967296 + 1 AS DOUBLE)
        |        / 4294967296.0) / n_chars, 6) AS es_key
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rk FROM b)
        |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars, es_key
        |FROM r WHERE rk <= 10 ORDER BY source, rk""".stripMargin)
}
