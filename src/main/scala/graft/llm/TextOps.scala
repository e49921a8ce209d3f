package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Text-analysis operators for LLM training-data pipelines
  * (SURVEY.md §0 scope addendum + §2.9): per-document statistics,
  * quality scoring, token counting, heuristic language ID, document
  * fingerprinting, corpus profiling, JSON property extraction.
  *
  * All operators are narrow per-row transformations (no shuffle) or
  * single hash aggregations, built from codegen'd `functions._` — no
  * UDFs — so at 100 TB they stream through whole-stage codegen at scan
  * speed. Token vectors use higher-order array functions
  * (`filter`/`transform`/`aggregate`) which evaluate without
  * serialization overhead.
  */
object TextOps {

  /** Whitespace tokens — the shared rule (see functions.Tokenize for why
    * it is defined exactly once). */
  private def tokens(c: org.apache.spark.sql.Column) =
    graft.functions.Tokenize.tokens(c)

  /** Per-document statistics: char count, token count, regex-token count
    * (BPE-ish `[a-z]+|[0-9]+` word/number pieces), mean token length. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(toks).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("n_pieces"),
        when(size(toks) === 0, 0.0)
          .otherwise(
            // sum of token lengths = the non-space char count (the
            // SelectionOps labeled() trick), codegen'd with no lambda
            length(translate(col("text"), " ", "")).cast("long")
              .cast("double") / size(toks))
          .as("mean_token_len"))
      .orderBy("doc_id")
  }

  /** Quality scoring (length + stopword-ratio heuristics) with bucketed
    * verdicts — the filter stage of a data-cleaning pipeline. Integer
    * token counts divide exactly, so the ratio is oracle-stable. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stop = graft.functions.HashKernels.token_hits(col("text"),
      Seq("the", "a", "of", "and", "to"))
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        col("n_chars"),
        size(toks).as("n_tokens"),
        stop.as("n_stopwords"),
        when(size(toks) === 0, lit(0.0))
          .otherwise(stop.cast("double") / size(toks)).as("stopword_ratio"),
        when(size(toks) < 5, "too_short")
          .when(stop === 0, "no_stopwords")
          .otherwise("ok").as("quality"))
      .orderBy("doc_id")
  }

  /** Corpus profile per language: doc counts, char volume, exact mean
    * length (long sums divide identically in both engines), distinct
    * sources. */
  def langProfile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Token frequency: explode → hash-aggregate → top-k. The classic
    * vocabulary-building job; partial aggregation keeps the shuffle at
    * |vocab| not |corpus|. Top-k ties broken by token for determinism. */
  def tokenFreq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(20)

  /** Content fingerprint for exact dedup at scale: md5 of normalized
    * text. Hash-based identity never ships full text through a shuffle —
    * at 100 TB you group on the 128-bit digest, not the document. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        md5(lower(trim(col("text")))).as("fingerprint"))
      .orderBy("doc_id")

  /** Exact deduplication: canonical doc per fingerprint group (lowest
    * doc_id wins), with copy counts. Grouping on the digest keeps the
    * shuffle key 16 bytes regardless of document size. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  /** Heuristic language ID from stopword evidence — the n-gram-style
    * scoring shape (per-class token-hit counts → argmax) expressed
    * relationally. Fixture text is synthetic English-ish vocabulary, so
    * the interesting part is the plan: per-row array scoring, no joins,
    * no shuffle. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val enHits = graft.functions.HashKernels.token_hits(col("text"),
      Seq("the", "a", "of", "and"))
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        enHits.as("en_evidence"),
        when(size(toks) === 0, "empty")
          .when(enHits > 0, "en").otherwise("unknown").as("guessed_lang"))
      .orderBy("doc_id")
  }

  /** JSON property extraction from the events stream (events.props is a
    * JSON string): pull `$.k`, aggregate per event_type. */
  def jsonProps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Rolling-hash document fingerprinting (winnowing): char-8-gram
    * hashes, window minima, distinct — shared substrings of length ≥ 23
    * guarantee shared fingerprints even when edits shift the rest of
    * the document. The catalog query keys grams with MD5 prefixes kept
    * as fixed-width hex (fused kernel), for which the window minimum is
    * engine-agnostic — so the stream has a full DuckDB oracle
    * (`md5(substr(text, i, 8))`); the Karp-Rabin kernel
    * (winnow_fingerprint) remains the throughput variant, its
    * shift-robustness pinned in NearDupSpec. */
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.HashKernels.winnow_fingerprint_md5(col("text"), 8, 16).as("fp"))
      .filter(col("fp").isNotNull)
      .select(col("doc_id"), size(col("fp")).cast("long").as("n_fingerprints"),
        element_at(col("fp"), 1).as("fp_min"))
      .orderBy("doc_id")

  /** Character-n-gram language ID: per-class trigram evidence counts →
    * argmax, the classic n-gram heuristic expressed as pure column
    * algebra (no join, no shuffle — profile trigrams are inline
    * literals; a full model would broadcast a (lang, trigram, logp)
    * dim instead, same plan shape). */
  def charNgramLangId(s: SparkSession, dir: String): DataFrame = {
    // fused kernel: the composed transform(sequence…substr) + filter form
    // materializes every trigram interpreted — 18 s at sf0.1 vs <1 s
    import graft.functions.HashKernels.trigram_hits
    val enHits = trigram_hits(col("text"), Seq("the", "he ", " th", "ing", "nd "))
    val jarHits = trigram_hits(col("text"), Seq("spa", "par", "ark", "sca", "que"))
    t(s, dir, "documents")
      .select(col("doc_id"), enHits.as("en_score"), jarHits.as("jargon_score"),
        when(length(col("text")) < 3, "und")
          .when(enHits > jarHits, "en")
          .when(jarHits > enHits, "jargon")
          .otherwise("und").as("guess"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag every training document that shares
    * at least one word 8-gram with the held-out eval slice (stand-in:
    * doc_id ≡ 0 mod 29 — in production this is the benchmark table).
    * 8-grams are the community-standard contamination test: long enough
    * that sharing one is evidence of copying, not chance.
    *
    * Scale shape: the eval side of an overlap check is always tiny, so
    * its distinct gram set BROADCASTS and the corpus is flagged in one
    * map-side semi-join pass — no shuffle of the training corpus at any
    * scale. Output: every training doc with its matched-gram count. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashKernels.shingle_array
    val docs = graft.Tables.tSpread(s, dir, "documents")
    val evalGrams = docs.filter(col("doc_id") % 29 === 0)
      .select(explode(shingle_array(col("text"), 8)).as("gram"))
      .distinct()
    val trainGrams = docs.filter(col("doc_id") % 29 =!= 0)
      .select(col("doc_id"), explode(shingle_array(col("text"), 8)).as("gram"))
    val hits = trainGrams.join(broadcast(evalGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
    docs.filter(col("doc_id") % 29 =!= 0).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Decontamination at blocklist scale: same contract and output as
    * [[decontaminate]] (q68), but the eval-gram set reaches the train
    * side as a BLOOM SKETCH, not an exact broadcast. q68's broadcast
    * ships every eval gram string to every executor — fine for one
    * eval suite, a scale-killer when the blocklist is itself corpus-
    * sized (all of eval + held-out + licensed-content fingerprints:
    * billions of grams). The sketch is ~10 bits per gram at ~1% false
    * positives regardless of gram width, and it rides a scalar subquery
    * (the same shape Spark's own runtime row-level filtering injects,
    * SPARK-32268) so it is built once and shared by every scan task.
    *
    * The probe is NOT the answer: `might_contain` false positives would
    * poison the count, so survivors go through the exact gram join —
    * but now only the ~(hit-rate + 1%) fraction of train grams rides
    * that shuffle instead of all of them. Composition stays exact ⇒
    * full hash oracle (q68's SQL verbatim). Grams shuffle as md5
    * digests; the fixed sketch size (1 MiB / 2^20 items here) is the
    * 10-bits-per-item rule — production sizes it from the blocklist
    * count estimate. */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomFunctions.in_bloom
    import graft.functions.HashKernels.shingle_array
    val docs = graft.Tables.tSpread(s, dir, "documents")
    val evalGrams = docs.filter(col("doc_id") % 29 === 0)
      .select(explode(shingle_array(col("text"), 8)).as("gram"))
      .select(md5(col("gram")).as("g"))
      .distinct()
    val sketch = evalGrams.select(
      graft.functions.BloomFunctions.bloom_filter_agg(
        xxhash64(col("g")), 1L << 20, 8L << 20).as("bf"))
    val trainGrams = docs.filter(col("doc_id") % 29 =!= 0)
      .select(col("doc_id"), explode(shingle_array(col("text"), 8)).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("g"))
    val hits = trainGrams
      .filter(in_bloom(sketch, xxhash64(col("g"))))
      .join(evalGrams, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
    docs.filter(col("doc_id") % 29 =!= 0).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** PII-style redaction over the events props payload: digit runs →
    * `<NUM>`, email-shaped tokens → `<EMAIL>`. Pure per-row regex
    * rewriting (codegen'd, patterns compiled once) — the text-cleaning
    * shape of a pre-training scrub pass, applied here to the one fixture
    * column that actually contains digits. */
  def redactPii(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"), col("props"),
        regexp_replace(
          regexp_replace(col("props"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
          "[0-9]+", "<NUM>").as("props_redacted"),
        regexp_count(col("props"), lit("[0-9]+")).cast("long").as("n_digit_runs"))
      .orderBy("event_id")

  /** Gopher-style repetition profile (Rae et al. 2021, App. A1): per
    * doc, the duplicate-token and top-bigram fractions that flag
    * boilerplate / degenerate text for removal before training. All
    * three counters come from one fused per-row kernel
    * (functions.RepetitionStats) — no shuffle at any corpus size; the
    * composed alternative would shuffle every bigram of the corpus
    * twice. Ratios are single exact integer divisions, so both engines
    * agree bit-for-bit (no rounding step needed). Docs with <2 tokens
    * carry no repetition signal and are excluded (mirrors the oracle). */
  def repetitionScore(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.HashKernels.repetition_stats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
        col("r.n_distinct").as("n_distinct"),
        col("r.top_bigram_n").as("top_bigram_n"))
      .filter(col("n_tokens") >= 2)
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("top_bigram_frac",
        col("top_bigram_n").cast("double") / (col("n_tokens") - 1))
      .withColumn("flag_repetitive",
        col("distinct_ratio") < 0.2 || col("top_bigram_frac") > 0.18)
      .orderBy("doc_id")

  /** Asymmetric n-gram containment |A∩B| / |A| (Broder 1997's second
    * resemblance measure; the decontamination metric of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", 2022):
    * near-total containment of a small doc in a large one is invisible
    * to Jaccard (small ∩ / large ∪) but exactly what leaks an eval set
    * into training text. Bounded verification slice (doc_id < 60 both
    * sides, like q44) — the scale path for containment screening is the
    * broadcast-gram semi-join of q68. */
  def ngramContainment(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashKernels.shingle_array
    val docSh = t(s, dir, "documents")
      .filter(col("doc_id") < 60)
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), shingle_array(col("text"), 3).as("sh"))
    val sizes = docSh.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val ex = docSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    ex.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(ex.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast("double") / col("n_a")).as("cont_a_in_b"),
        (col("n_inter").cast("double") / col("n_b")).as("cont_b_in_a"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-source corpus profile — the provenance report a curation
    * pipeline reviews before mixing sources: volume, token mass, length
    * stats, language spread, short-doc fraction. One partial+final hash
    * aggregation on the (low-cardinality) source key; integer sums stay
    * exact so the derived ratios are cross-engine deterministic. */
  def sourceProfile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"),
        (sum(when(col("n_chars") < 200, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("short_frac"))
      .orderBy("source")

  /** Token-length histogram in fixed 25-token buckets (integer
    * arithmetic only — a log2 bucketing would hinge on cross-engine
    * floating log precision at exact powers). The shape report that
    * drives truncation / packing decisions (q64's shard packer
    * consumes exactly this distribution). */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    // The window runs over the handful of post-aggregation bucket rows
    // (single partition by design — a histogram's total is global).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    t(s, dir, "documents")
      .select((floor(size(tokens(col("text"))).cast("double") / 25.0)
        .cast("long") * 25).as("bucket_lo"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        col("n_docs").cast("double") / sum(col("n_docs")).over(w))
      .orderBy("bucket_lo")
  }

  /** Canonical text normalization — the first pass of every training
    * prep pipeline (and the right input to exact dedup: near-identical
    * docs differing only in case/punctuation/whitespace become exact
    * twins after it): lowercase, non-alphanumerics to spaces, collapsed
    * whitespace, trimmed; plus the md5 of the normalized form (the
    * dedup key) and a changed flag. Pure per-row regex/codegen — scan
    * speed at any scale. */
  def normalizeText(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        regexp_replace(
          trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " ")),
          " +", " ").as("text_norm"))
      .withColumn("norm_digest", md5(col("text_norm")))
      .withColumn("changed", col("text_norm") =!= col("text"))
      .orderBy("doc_id")

  /** Context-window chunking: split every document into overlapping
    * token windows (width 40, stride 30 → overlap 10) — the
    * doc→training-sequence explosion step before packing (q64 consumes
    * lengths like these). One `explode` over an integer sequence plus
    * `slice`/`array_join` — all codegen'd builtins, no higher-order
    * lambdas — so the fan-out is map-side only: a doc's chunks never
    * leave its partition. Chunk count = ceil(max(n−overlap,1)/stride),
    * so every token is covered and the last window may run short. */
  def chunkWindows(s: SparkSession, dir: String): DataFrame = {
    val width = 40
    val stride = 30
    val tk = tokens(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), tk.as("tk"), size(tk).cast("long").as("n_tokens"))
      .withColumn("n_chunks",
        ceil(greatest(col("n_tokens") - (width - stride), lit(1L))
          .cast("double") / stride).cast("long"))
      .select(col("doc_id"), col("tk"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        slice(col("tk"), (col("chunk_id") * stride + 1).cast("int"), lit(width))
          .as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        size(col("chunk")).cast("long").as("chunk_len"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Paragraph-level dedup — the CCNet shape (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020 §4.2): dedup BELOW document granularity, the
    * most common real-pipeline cleanup (boilerplate lines and repeated
    * paragraphs across pages survive every document-level pass in this
    * catalog — q35 exact, q43 MinHash, q45 SimHash, q90 semantic,
    * q182 media). Split each document into paragraphs, digest each,
    * keep only the corpus-wide FIRST occurrence of every distinct
    * paragraph (ordered by doc_id then position — deterministic, the
    * CCNet rule), and emit per-document removal stats plus the cleaned
    * text with surviving paragraphs in original order.
    *
    * The fixture text carries no newlines, so the paragraph unit is a
    * fixed window of 10 whitespace tokens — the unit is a parameter of
    * the shape, not the algorithm.
    *
    * Scale shape: paragraphs are produced map-side (posexplode of a
    * slice/array_join transform — no shuffle); canonical occurrence is
    * `min(struct(doc_id, pos))` under a hash aggregation on the
    * 128-bit digest — NO window over the corpus, so nothing ever
    * single-partitions (the oracle uses ROW_NUMBER, the plan does
    * not). The digest aggregation and the join back both key on 16
    * bytes; paragraph text rides exactly one exchange (the join back),
    * which is unavoidable because the output must reconstruct cleaned
    * text. Repartition-invariant by construction (min-struct is
    * order-free; ParagraphDedupSpec pins it). */
  /** The 10-token paragraph units of a (doc_id, text) frame as
    * (doc_id, para_idx, para, dg=md5(para)) rows, produced map-side
    * (posexplode over a slice/array_join transform — no shuffle) and
    * PINNED (the q109 rule: both paragraph-dedup forms feed the frame
    * to a digest aggregation AND a join-back; unmaterialized, each
    * consumer re-scans and re-tokenizes the corpus). */
  private def paraFrame(docs: DataFrame): DataFrame =
    graft.Materialize.stable(paraUnits(docs))

  /** [[paraFrame]] without the materialization — for single-consumer
    * plans (the per-batch digest write of the streaming paragraph
    * maintainer, the offline [[ParaDigestIndex]] build) where pinning
    * the frame would only add a checkpoint round-trip. */
  private[graft] def paraUnits(docs: DataFrame): DataFrame = {
    val paraTok = 10
    // Fused (optimization r17): the composed
    // `transform(sequence…, array_join(slice(tokens…)))` ran its
    // per-paragraph lambdas INTERPRETED; the token_chunks kernel emits
    // the identical 10-token blocks in one codegen'd byte pass (same
    // normalized-buffer trick as gram_digests). Digest stays
    // md5(para) — paragraph state representation unchanged everywhere
    // (index layouts, maintainer schemas, oracles).
    docs
      .select(col("doc_id"),
        graft.functions.HashKernels.token_chunks(col("text"), paraTok)
          .as("ps"))
      .select(col("doc_id"), posexplode(col("ps")))
      .toDF("doc_id", "para_idx", "para")
      .withColumn("dg", md5(col("para")))
  }

  /** The DISTINCT paragraph digests of a (doc_id, text) frame — the
    * 32-hex-char column that is this family's entire maintained state
    * (paragraph text never enters an index or a delta segment). */
  private[graft] def paraDigests(docs: DataFrame): DataFrame =
    paraUnits(docs).select("dg").distinct()

  /** Keep exactly the paragraph occurrences whose (rank…) struct is the
    * per-digest minimum, and fold per-doc stats + cleaned text for the
    * docs of `outDocs`. Shared tail of [[paragraphDedup]] (rank =
    * (doc_id, para_idx)) and [[paragraphDedupIncremental]] (rank =
    * (is_batch, doc_id, para_idx) — corpus occurrences beat batch
    * ones). The canonical pick is a `min(struct(...))` under a hash
    * aggregation on the 128-bit digest — NO window over the corpus, so
    * nothing single-partitions, and the result is repartition-invariant
    * (min is order-free). */
  private def dedupTail(paras: DataFrame, rank: Seq[org.apache.spark.sql.Column],
      outDocs: DataFrame, blockedDgs: Option[DataFrame] = None): DataFrame = {
    val ranked = paras.withColumn("rk", struct(rank: _*))
    // A digest in `blockedDgs` (the staged/streamed corpus set of q190
    // and the streaming maintainer) can never be first: anti-joining it
    // out of the ≤|distinct dg| firsts frame — NOT out of the paras —
    // keeps every occurrence in the per-doc stats while the presence
    // check costs one 32-byte-key join at the already-aggregated level.
    val firsts0 = ranked.groupBy("dg").agg(min(col("rk")).as("first"))
    val firsts = blockedDgs.fold(firsts0)(b =>
      firsts0.join(b.select("dg"), Seq("dg"), "left_anti"))
    val stats = ranked.join(firsts, Seq("dg"), "left")
      .withColumn("is_first",
        col("first").isNotNull && col("rk") === col("first"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"),
        // kept paragraphs re-joined in para_idx order (unique per doc),
        // one codegen'd sort+join pass per doc
        graft.functions.HashKernels.sorted_para_join(collect_list(
          when(col("is_first"), struct(col("para_idx"), col("para")))))
          .as("cleaned_text"))
    outDocs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_paras") - col("n_kept"), lit(0L)).as("n_dropped"),
        coalesce((col("n_paras") - col("n_kept")).cast("double")
          / col("n_paras"), lit(0.0)).as("dup_frac"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  def paragraphDedup(docs: DataFrame): DataFrame =
    dedupTail(paraFrame(docs), Seq(col("doc_id"), col("para_idx")), docs)

  def paragraphDedup(s: SparkSession, dir: String): DataFrame =
    paragraphDedup(t(s, dir, "documents"))

  /** Incremental (recrawl) paragraph dedup — q187's first-occurrence
    * rule with the EXISTING corpus always winning: a batch paragraph
    * survives iff its digest appears nowhere in the corpus side and
    * this is its first occurrence within the batch (by doc_id then
    * position). This is CCNet's production form — each new crawl dump
    * is cleaned against the corpus already kept — and the paragraph
    * analogue of q76's incremental near-dup; the same mod-10 ingest
    * boundary plays the batch. Output rows are batch docs only.
    *
    * Scale shape: rank = (is_batch, doc_id, pos) folds the corpus-vs-
    * batch precedence into the SAME single min(struct) digest
    * aggregation q187 uses — no second pass, no anti-join; at
    * production scale the corpus side's (dg, first) table is a staged
    * output rebuilt per corpus version (the BandIndex/q84 pattern),
    * and only the batch is split per run. */
  def paragraphDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val paras = paraFrame(docs)
      .withColumn("is_batch",
        when(NearDupOps.isNewDoc(col("doc_id")), 1L).otherwise(0L))
    dedupTail(paras,
      Seq(col("is_batch"), col("doc_id"), col("para_idx")),
      docs.filter(NearDupOps.isNewDoc(col("doc_id"))))
  }

  /** Incremental paragraph dedup of `batchDocs` against an already-kept
    * corpus represented ONLY by its paragraph-digest set — q189's rule
    * with the corpus side never re-tokenized. Because any corpus
    * occurrence outranks every batch occurrence in q189's
    * (is_batch, doc_id, pos) order, the corpus's entire contribution to
    * the answer is digest PRESENCE: a batch paragraph survives iff its
    * digest is absent from `corpusDgs` and it is the batch-internal
    * first. Presence is idempotent under duplication, so callers may
    * pass an un-deduplicated union of digest sources (staged base ∪
    * stream delta segments) without a distinct pass — the property the
    * streaming maintainer's re-delivery contract rests on (unlike the
    * classifier's SUM algebra, a re-delivered doc cannot corrupt this
    * family). Shared by q190 and
    * [[graft.streaming.StreamingParagraphMaintenance.cleanedProbe]]. */
  private[graft] def paragraphDedupAgainst(batchDocs: DataFrame,
      corpusDgs: DataFrame): DataFrame =
    dedupTail(paraFrame(batchDocs),
      Seq(col("doc_id"), col("para_idx")), batchDocs, Some(corpusDgs))

  /** q190 — staged-index incremental paragraph dedup: q189 with the
    * corpus side's work paid ONCE per corpus version ([[ParaDigestIndex]],
    * the q84/q132/q171/q186 pattern applied to the paragraph family).
    * Per query only the BATCH is tokenized and split (O(batch)); the
    * corpus rides in as its staged 32-hex-char digest column — at 100 TB
    * the difference between re-reading every kept shard's text per
    * recrawl and scanning one narrow digest table. Integrity contract:
    * shares q189's oracle SQL BY DESIGN (the q185/q183 pattern) — a
    * digest lost or invented by the index round-trip is a hash
    * mismatch. */
  def paragraphDedupStaged(s: SparkSession, dir: String): DataFrame =
    paragraphDedupAgainst(
      t(s, dir, "documents").filter(NearDupOps.isNewDoc(col("doc_id"))),
      ParaDigestIndex.dgs(s, dir))

  /** q198 — corpus-wide duplicated-SPAN mining (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better": the
    * ExactSubstr family's REPORTING form — not pairwise overlap like
    * q85, not paragraph-boundary like q187, but the global repeated
    * ≥k-token span inventory with removal stats per source, the audit
    * a pipeline runs before deciding to cut repeated spans at all).
    *
    * Spark-native approximation of the suffix-array scan: a k-token
    * shingle is DUPLICATED iff its digest occurs ≥ 2 times corpus-wide
    * (within-doc repeats count, as in the paper's "appears more than
    * once in the corpus"); a doc's duplicated shingle positions merge
    * into maximal runs (gaps-and-islands: pos − row_number per doc),
    * each run [s..e] covering tokens [s, e+k−1]; runs whose token
    * intervals still overlap (gap < k) are union-merged by a per-doc
    * LAG clip, so dup_tokens is the EXACT size of the covered-token
    * union, never double-counted. Every maximal repeated span of
    * ≥ k tokens is a run by construction (each of its k-windows is
    * duplicated), so the inventory is exact at granularity k.
    *
    * Scale shape: grams ride the shuffle as 16-byte md5 digests with
    * (doc_id, pos) — one corpus-sized hash agg for the ≥2 filter
    * (map-side partials, so a boilerplate digest repeated 10⁹ times
    * costs one combiner row per task, never a collected list), one
    * semi-join back; the run/merge windows partition on doc_id (each
    * partition ≤ doc token count). The gram frame is deliberately NOT
    * pinned for its two references: a (doc_id, pos, digest) row is
    * ~32 B per corpus TOKEN — several times the text bytes themselves
    * at 100 TB — so re-running the codegen'd tokenize+md5 scan twice
    * (two linear passes, zero storage) beats materializing a frame
    * larger than the corpus. k = 8 matches the decontamination gram
    * width (q68); production sweeps k per the paper (50 BPE tokens). */
  /** (doc_id, pos, dg) positional k-gram digests — every occurrence at
    * its token position (NOT the fused shingle_array kernel, which
    * dedups within-doc by design for the decontamination/minhash
    * semantics — span mining needs every occurrence). Shared by q198
    * (inventory) and q199 (removal) so the two forms can never gram
    * differently.
    *
    * Fused (optimization r17): the first cut composed
    * `posexplode(transform(sequence…, array_join(slice(tokens…))))`
    * + `md5(gram)` — higher-order lambdas that run INTERPRETED per
    * gram (the round-4 lesson the rest of the text family already
    * applies) and shuffled digests as 32-byte hex strings. The
    * [[graft.functions.HashKernels.gram_digests]] kernel emits the
    * same grams' MD5s as 16-byte binaries in ONE codegen'd pass
    * (array index = token position, so `posexplode` recovers the
    * position), halving digest shuffle bytes; every consumer groups /
    * joins on the digest value only, so the hex→binary rendering is
    * invisible to results (oracle hash-matches re-verified). */
  private[graft] def positionalGrams(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.HashKernels.gram_digests(col("text"), k).as("dgs"))
      .filter(size(col("dgs")) >= 1)
      .select(col("doc_id"), posexplode(col("dgs")).as(Seq("pos", "dg")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("dg"))

  /** Gaps-and-islands: duplicated gram positions (doc_id, pos) →
    * maximal position runs (doc_id, s, e). The window partitions on
    * doc_id, so each task is bounded by one doc's token count. Shared
    * by q198, q199 and the staged q200 probe. */
  private[graft] def spanRuns(dupPos: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .select("doc_id", "s", "e")
  }

  /** q198's report tail over an explicit run set: per-doc LAG clip
    * (overlapping token intervals union-merge, never double-counted),
    * then the per-source rollup. Shared by q198 and the staged q200
    * probe so the two forms can never aggregate differently. */
  private[graft] def spanReport(runs: DataFrame, totals: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = Window.partitionBy("doc_id").orderBy("s")
    val perDoc = runs
      .withColumn("cover", col("e") + (k - 1) - greatest(col("s"),
        coalesce(lag(col("e"), 1).over(ws) + k, col("s"))) + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("cover")).as("dup_tokens"))
    totals.join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("dup_tokens")).as("n_dup_docs"),
        coalesce(sum(col("n_spans")), lit(0L)).as("n_spans"),
        coalesce(sum(col("dup_tokens")), lit(0L)).as("dup_tokens"),
        sum(col("n_tokens")).as("total_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy("source")
  }

  /** (doc_id, source, n_tokens) per doc — the denominator side of the
    * span report (null n_tokens for null text, exactly the q198 SQL). */
  private[graft] def spanTotals(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      when(col("text").isNotNull,
        size(graft.functions.Tokenize.tokens(col("text"))).cast("long"))
        .as("n_tokens"))

  /** q198 over an explicit documents frame — the seam the staged≡fresh
    * equivalence spec drives. */
  private[graft] def dupSpansOf(docs: DataFrame, k: Int): DataFrame = {
    val grams = positionalGrams(docs, k)
    val dupDg = grams.groupBy("dg")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select("dg")
    val dupPos = grams.join(dupDg, Seq("dg"), "left_semi")
      .select("doc_id", "pos")
    spanReport(spanRuns(dupPos), spanTotals(docs), k)
  }

  def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpansOf(graft.Tables.tSpread(s, dir, "documents"), k = 8)

  /** The incremental span accounting over explicit index frames — the
    * seam the re-delivery spec drives directly. Answer contract: equal
    * to [[dupSpans]] run fresh over (indexed corpus ∪ batch).
    *
    * Why each piece is O(batch + dup-state), never O(corpus text):
    * only the BATCH is grammed; the corpus rides in as its staged
    * per-distinct-digest counts. A batch gram makes a corpus position
    * newly-duplicated ONLY by flipping an n = 1 digest, and the index
    * carries exactly those positions — so the affected corpus docs'
    * runs are rebuilt from (their staged runs exploded back to
    * positions ∪ the flipped positions), both output-sized, and every
    * other corpus doc's staged runs pass through untouched.
    *
    * Re-delivery guard (the q190 idempotence contract, SUM-shaped
    * here): a batch doc already present in the index is EXCLUDED
    * up front — grammed twice, its unique grams would spuriously count
    * as duplicated (counts are not presence; duplication would
    * corrupt), so the exclusion is enforced in code and spec-pinned. */
  private[graft] def dupSpansAgainst(dgn: DataFrame, baseRuns: DataFrame,
      baseTotals: DataFrame, batch: DataFrame, k: Int): DataFrame = {
    val batchDocs = batch
      .join(baseTotals.select("doc_id"), Seq("doc_id"), "left_anti")
    val grams = positionalGrams(batchDocs, k)
    val batchCnt = grams.groupBy("dg").agg(count(lit(1)).as("bn"))
    // a batch position is duplicated iff its digest occurs >= 2 times
    // corpus-wide: >= 2 within the batch, or >= 1 in the corpus
    val dupBatchDg = batchCnt
      .join(dgn.select(col("dg"), col("n")), Seq("dg"), "left")
      .filter(col("bn") >= 2 || coalesce(col("n"), lit(0L)) >= 1)
      .select("dg")
    val batchDupPos = grams.join(dupBatchDg, Seq("dg"), "left_semi")
      .select("doc_id", "pos")
    // corpus positions the batch flips from unique to duplicated
    val flipped = dgn.filter(col("n") === 1)
      .join(batchCnt.select("dg"), Seq("dg"), "left_semi")
      .select(col("doc1").as("doc_id"), col("pos1").as("pos"))
    val affected = flipped.select("doc_id").distinct()
    // rebuild runs only for affected corpus docs: staged runs back to
    // positions (output-sized) ∪ flipped positions (disjoint by
    // construction — an n=1 digest's position was never in a run)
    val affectedPos = baseRuns.join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("pos"))
      .unionByName(flipped)
    val runsAll = baseRuns.join(affected, Seq("doc_id"), "left_anti")
      .unionByName(spanRuns(affectedPos))
      .unionByName(spanRuns(batchDupPos))
    spanReport(runsAll,
      baseTotals.unionByName(spanTotals(batchDocs)), k)
  }

  /** q200 — staged-index incremental duplicated-span accounting: q198
    * over (staged corpus ∪ un-indexed ingest batch) with the corpus
    * side's gram scan paid ONCE per corpus version
    * ([[SpanDigestIndex]] — the q190/q186 pattern applied to the span
    * family; the cross-snapshot provenance form of r16 verdict
    * item 8: a recrawl's report shows whether it re-delivered known
    * spans or created new duplication, without re-reading kept
    * shards). Integrity contract: shares q198's oracle BY DESIGN —
    * the staged plan must reproduce the fresh full-corpus report
    * bit-for-bit, so a digest count lost by the index round-trip, a
    * missed unique→duplicated flip, or a double-counted re-delivery
    * is a hash mismatch. */
  def dupSpansIncremental(s: SparkSession, dir: String): DataFrame =
    dupSpansAgainst(
      SpanDigestIndex.dgn(s, dir),
      SpanDigestIndex.runs(s, dir),
      SpanDigestIndex.totals(s, dir),
      graft.Tables.tSpread(s, dir, "documents")
        .filter(NearDupOps.isNewDoc(col("doc_id"))),
      SpanDigestIndex.K)

  /** q199 — duplicated-span REMOVAL (q198's action form; Lee et al.
    * 2021 §4: keep ONE copy of each duplicated span, cut the rest).
    * The deterministic rule, consistent with the q187/q189 paragraph
    * precedence: a k-gram occurrence is PROTECTED iff it is the
    * corpus-global first occurrence of its digest in (doc_id, pos)
    * order; a token is CUT iff it is covered by at least one
    * NON-first occurrence of a duplicated gram (coverage beats
    * protection — the overlap-union rule, so a token inside both a
    * first and a repeat window is still cut; only the span whose every
    * window is globally first survives verbatim). Output per doc:
    * token counts, maximal cut-run count, and the cleaned text
    * (surviving tokens joined by single spaces — the q187
    * whitespace-normalized contract).
    *
    * Scale shape: same as q198 — grams shuffle as 16-byte digests; the
    * first-occurrence rule is ONE hash agg per digest (count + min
    * struct(doc_id, pos), both map-side partial-aggregable — never a
    * window over the corpus gram stream, which would shuffle every
    * gram row un-combined), a join back on digest, run windows
    * partitioned on doc_id, and the cut itself is a per-row lambda
    * over the doc's own runs array (runs per doc, not corpus state).
    * Text rides no shuffle except the output ordering.
    *
    * @param k gram width (r16 verdict item 2: parameterized; q199
    *          fixes 8 to share q198's granularity, production sweeps
    *          ~50 BPE tokens per the paper). */
  private[graft] def dupSpanRemove(docs: DataFrame, k: Int): DataFrame = {
    val grams = positionalGrams(docs, k)
    // one agg: digest -> (occurrence count, global first occurrence)
    val dupFirst = grams.groupBy("dg")
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("n") >= 2)
      .select(col("dg"), col("first.doc_id").as("fdoc"),
        col("first.pos").as("fpos"))
    // non-first occurrences of duplicated grams = the cut windows
    val cutPos = grams.join(dupFirst, Seq("dg"))
      .filter(!(col("doc_id") === col("fdoc") && col("pos") === col("fpos")))
      .select("doc_id", "pos")
    spanCut(docs, cutPos, k)
  }

  /** The span-SURGERY tail shared by q199 (dedup removal) and q201
    * (decontamination removal): given the cut windows — (doc_id, pos)
    * of every k-gram occurrence to remove — merge them into maximal
    * token runs (gaps-and-islands; the window partitions on doc_id so
    * each task is bounded by one doc), then rebuild each doc's text
    * with covered tokens removed via a per-row `filter`+`exists`
    * lambda over the doc's OWN runs array. Only (doc_id, pos) rows
    * ride the run shuffle; text rides no shuffle except the output
    * ordering. */
  private[graft] def spanCut(docs: DataFrame, cutPos: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // maximal runs of cut windows (gaps-and-islands, as in q198)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val runs = cutPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_cut_runs"),
        collect_list(struct(col("s"), (col("e") + (k - 1)).as("e")))
          .as("cut"))
    // Fused (optimization r17): the cut was a per-row `filter`+`exists`
    // lambda pair — an INTERPRETED predicate per token × run. The
    // span_surgery kernel sorts the doc's runs once and two-pointer
    // walks its tokens in codegen; output identical (survivors joined
    // by single spaces, the same counts).
    docs
      // null text tokenizes to the empty vector (cleaned_text '', counts
      // 0) — the q187 COALESCE contract, oracle-matched
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cut_runs"), lit(0L)).as("n_cut_runs"),
        graft.functions.HashKernels.span_surgery(col("t"),
          coalesce(col("cut"),
            array().cast("array<struct<s:bigint,e:bigint>>"))).as("sc"))
      .select(col("doc_id"), col("sc.n_tokens").as("n_tokens"),
        col("n_cut_runs"), col("sc.n_cut_tokens").as("n_cut_tokens"),
        col("sc.cleaned_text").as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** q201 — SPAN-level benchmark decontamination (the surgical form of
    * q68: instead of flagging or dropping a whole training document
    * that shares an 8-gram with the eval slice, cut exactly the
    * contaminated spans and keep the rest of the document — the
    * removal practice for long documents where one quoted benchmark
    * item would otherwise cost the entire doc). Rule: a training
    * token is CUT iff it is covered by at least one k-gram window
    * whose gram occurs ANYWHERE in the eval slice. Unlike q199 there
    * is no first-occurrence protection — the eval copy lives outside
    * the training corpus, so every training occurrence is
    * contamination. Output per doc mirrors q199 (token counts, maximal
    * cut-run count, cleaned text) over the TRAINING docs only.
    *
    * Scale shape: strictly cheaper than q199 — the eval side of an
    * overlap check is always tiny (the q68 posture), so its distinct
    * gram digests BROADCAST and the training grams are filtered in one
    * map-side semi-join pass: the training corpus' grams never ride
    * ANY shuffle. Only the contaminated (doc_id, pos) rows reach the
    * run window, and the cut itself is the shared per-row lambda
    * ([[spanCut]]). */
  private[graft] def decontaminateSpans(train: DataFrame,
      evalDocs: DataFrame, k: Int): DataFrame = {
    val evalDg = positionalGrams(evalDocs, k).select("dg").distinct()
    val cutPos = positionalGrams(train, k)
      .join(broadcast(evalDg), Seq("dg"), "left_semi")
      .select("doc_id", "pos")
    spanCut(train, cutPos, k)
  }

  /** q201 over the documents table: eval slice = doc_id ≡ 0 mod 29
    * (q68's stand-in — in production this is the benchmark table),
    * k = 8 (the community-standard contamination gram width, shared
    * with q68/q92 so the three decontamination forms agree on what
    * "contaminated" means). */
  def decontaminateSpansQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.tSpread(s, dir, "documents")
    decontaminateSpans(docs.filter(col("doc_id") % 29 =!= 0),
      docs.filter(col("doc_id") % 29 === 0), k = 8)
  }

  /** q202 — q201 at BLOCKLIST scale: same contract and output as
    * [[decontaminateSpans]], but the eval gram set reaches the training
    * side as a BLOOM SKETCH + exact verify — the q92 pattern applied to
    * span surgery. q201 broadcasts the eval digests, which is right for
    * one benchmark suite and a scale-killer when the blocklist is
    * itself corpus-sized (all of eval + held-out + licensed-content
    * fingerprints: billions of grams). The sketch (~10 bits per gram at
    * ~1% false positives) rides a scalar subquery to every scan task,
    * and only the ~(true-hit-rate + 1% FP) fraction of training gram
    * rows enters the exact digest join — which at blocklist scale is a
    * shuffle join, the prefilter's point being that its train side is
    * bounded by the contamination rate, not the corpus. False positives
    * cannot reach the cut set: survivors go through the exact left-semi
    * verify, so the composition stays exact ⇒ q201's oracle verbatim
    * (the sketch is an optimization, not a semantic). */
  private[graft] def bloomDecontaminateSpans(train: DataFrame,
      evalDocs: DataFrame, k: Int): DataFrame = {
    import graft.functions.BloomFunctions.{bloom_filter_agg, in_bloom}
    val evalDg = positionalGrams(evalDocs, k).select("dg").distinct()
    val sketch = evalDg.select(
      bloom_filter_agg(xxhash64(col("dg")), 1L << 20, 8L << 20).as("bf"))
    val cutPos = positionalGrams(train, k)
      .filter(in_bloom(sketch, xxhash64(col("dg"))))
      .join(evalDg, Seq("dg"), "left_semi")
      .select("doc_id", "pos")
    spanCut(train, cutPos, k)
  }

  /** q202 over the documents table — q201's slices and gram width. */
  def bloomDecontaminateSpansQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.tSpread(s, dir, "documents")
    bloomDecontaminateSpans(docs.filter(col("doc_id") % 29 =!= 0),
      docs.filter(col("doc_id") % 29 === 0), k = 8)
  }

  /** q199 over the documents table at the q198 gram width. */
  def dupSpanRemoveQuery(s: SparkSession, dir: String): DataFrame =
    dupSpanRemove(graft.Tables.tSpread(s, dir, "documents"), k = 8)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q198_dup_spans" -> dupSpans,
    "q199_dup_span_remove" -> dupSpanRemoveQuery,
    "q200_dup_spans_incremental" -> dupSpansIncremental,
    "q201_decontaminate_spans" -> decontaminateSpansQuery,
    "q202_bloom_decontaminate_spans" -> bloomDecontaminateSpansQuery,
    "q187_paragraph_dedup" -> ((s, dir) => paragraphDedup(s, dir)),
    "q189_paragraph_dedup_incremental" -> paragraphDedupIncremental,
    "q190_paragraph_staged" -> paragraphDedupStaged,
    "q68_decontaminate" -> decontaminate,
    "q92_bloom_decontaminate" -> bloomDecontaminate,
    "q69_redact_pii"    -> redactPii,
    "q77_normalize_text" -> normalizeText,
    "q78_chunk_windows" -> chunkWindows,
    "q70_repetition_score" -> repetitionScore,
    "q71_ngram_containment" -> ngramContainment,
    "q72_source_profile" -> sourceProfile,
    "q73_length_histogram" -> lengthHistogram,
    "q54_rolling_fingerprint" -> rollingFingerprint,
    "q55_char_ngram_langid"   -> charNgramLangId,
    "q30_text_stats"    -> textStats,
    "q31_quality_score" -> qualityScore,
    "q32_lang_profile"  -> langProfile,
    "q33_token_freq"    -> tokenFreq,
    "q34_fingerprint"   -> fingerprint,
    "q35_exact_dedup"   -> exactDedup,
    "q36_lang_id"       -> langId,
    "q37_json_props"    -> jsonProps)

  /** q189's oracle, shared verbatim by q190: the staged-index plan must
    * produce the EXACT rows the split-everything plan produces. */
  /** q198's oracle, shared verbatim by q200: the staged-index plan
    * must reproduce the fresh full-corpus span report. */
  /** q201's oracle (shared verbatim by q202 — the sketch is an
    * optimization, not a semantic): q199's interval-probe CTE with the
    * cut set defined by eval-gram MEMBERSHIP (any training occurrence
    * of an eval gram is cut; no first-occurrence protection) and the
    * output restricted to training docs. */
  private val q201OracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS tks
      |  FROM documents WHERE doc_id % 29 <> 0),
      |etk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS tks
      |  FROM documents WHERE doc_id % 29 = 0),
      |eg AS (
      |  SELECT DISTINCT tks[i]||' '||tks[i+1]||' '||tks[i+2]||' '||tks[i+3]||' '||
      |      tks[i+4]||' '||tks[i+5]||' '||tks[i+6]||' '||tks[i+7] AS gram
      |  FROM (SELECT doc_id, UNNEST(generate_series(1, len(tks) - 7)) AS i, tks
      |        FROM etk WHERE len(tks) >= 8)),
      |g AS (
      |  SELECT doc_id, UNNEST(generate_series(1, len(tks) - 7)) AS i, tks
      |  FROM tk WHERE len(tks) >= 8),
      |gg AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |    tks[i]||' '||tks[i+1]||' '||tks[i+2]||' '||tks[i+3]||' '||
      |      tks[i+4]||' '||tks[i+5]||' '||tks[i+6]||' '||tks[i+7] AS gram
      |  FROM g),
      |cut AS (SELECT gg.doc_id, gg.pos FROM gg JOIN eg ON gg.gram = eg.gram),
      |runs AS (
      |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
      |  FROM (SELECT doc_id, pos,
      |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |        FROM cut)
      |  GROUP BY doc_id, grp),
      |nr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cut_runs
      |       FROM runs GROUP BY doc_id),
      |toks AS (
      |  SELECT doc_id, UNNEST(tks) AS tok,
      |    CAST(UNNEST(generate_series(0, len(tks) - 1)) AS BIGINT) AS tpos
      |  FROM tk),
      |kept AS (
      |  SELECT t.doc_id, t.tok, t.tpos FROM toks t
      |  WHERE NOT EXISTS (SELECT 1 FROM runs r
      |    WHERE r.doc_id = t.doc_id AND t.tpos BETWEEN r.s AND r.e)),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    COALESCE(string_agg(tok, ' ' ORDER BY tpos), '') AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT k.doc_id, CAST(len(k.tks) AS BIGINT) AS n_tokens,
      |  COALESCE(nr.n_cut_runs, 0) AS n_cut_runs,
      |  CAST(len(k.tks) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_cut_tokens,
      |  COALESCE(a.cleaned, '') AS cleaned_text
      |FROM tk k
      |LEFT JOIN nr USING (doc_id)
      |LEFT JOIN agg a ON a.doc_id = k.doc_id
      |ORDER BY k.doc_id""".stripMargin

  private val q198OracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS tks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, UNNEST(generate_series(1, len(tks) - 7)) AS i, tks
      |  FROM tk WHERE len(tks) >= 8),
      |gg AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |    tks[i]||' '||tks[i+1]||' '||tks[i+2]||' '||tks[i+3]||' '||
      |      tks[i+4]||' '||tks[i+5]||' '||tks[i+6]||' '||tks[i+7] AS gram
      |  FROM g),
      |dup AS (SELECT gram FROM gg GROUP BY gram HAVING COUNT(*) >= 2),
      |dp AS (SELECT doc_id, pos FROM gg WHERE gram IN (SELECT gram FROM dup)),
      |runs AS (
      |  SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
      |  FROM (SELECT doc_id, pos,
      |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |        FROM dp)
      |  GROUP BY doc_id, grp),
      |cov AS (
      |  SELECT doc_id, e + 7 - GREATEST(s,
      |    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s) + 8, s)) + 1 AS cover
      |  FROM runs),
      |perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |    CAST(SUM(cover) AS BIGINT) AS dup_tokens
      |  FROM cov GROUP BY doc_id),
      |tot AS (SELECT doc_id, source, CAST(len(tks) AS BIGINT) AS n_tokens FROM tk)
      |SELECT t.source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(p.dup_tokens) AS BIGINT) AS n_dup_docs,
      |  CAST(COALESCE(SUM(p.n_spans), 0) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(SUM(p.dup_tokens), 0) AS BIGINT) AS dup_tokens,
      |  CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
      |  ROUND(COALESCE(SUM(p.dup_tokens), 0) / SUM(t.n_tokens), 6) AS dup_frac
      |FROM tot t LEFT JOIN perdoc p USING (doc_id)
      |GROUP BY t.source ORDER BY t.source""".stripMargin

  private val q189OracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |pl AS (
      |  SELECT doc_id, list_transform(
      |      generate_series(0, CAST(ceil(len(toks) / 10.0) AS BIGINT) - 1),
      |      i -> array_to_string(list_slice(toks, i*10+1, i*10+10), ' ')) AS ps
      |  FROM tk),
      |paras AS (
      |  SELECT doc_id, unnest(ps) AS para,
      |    unnest(generate_series(0, len(ps) - 1)) AS para_idx
      |  FROM pl),
      |marked AS (
      |  SELECT doc_id, para_idx, para,
      |    ROW_NUMBER() OVER (PARTITION BY md5(para)
      |      ORDER BY CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END,
      |               doc_id, para_idx) = 1 AS is_first
      |  FROM paras),
      |stats AS (
      |  SELECT doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_paras,
      |    CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |    COALESCE(string_agg(para, ' ' ORDER BY para_idx)
      |             FILTER (WHERE is_first), '') AS cleaned_text
      |  FROM marked WHERE doc_id % 10 = 7 GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(s.n_paras, 0) AS n_paras,
      |  COALESCE(s.n_kept, 0) AS n_kept,
      |  COALESCE(s.n_paras - s.n_kept, 0) AS n_dropped,
      |  CASE WHEN COALESCE(s.n_paras, 0) = 0 THEN 0.0
      |       ELSE CAST(s.n_paras - s.n_kept AS DOUBLE) / s.n_paras END AS dup_frac,
      |  COALESCE(s.cleaned_text, '') AS cleaned_text
      |FROM documents d LEFT JOIN stats s ON s.doc_id = d.doc_id
      |WHERE d.doc_id % 10 = 7
      |ORDER BY d.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // q187: same first-occurrence rule via ROW_NUMBER over (doc_id,
    // para_idx) per paragraph digest — the oracle may single-partition,
    // the plan must not.
    "q187_paragraph_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |pl AS (
        |  SELECT doc_id, list_transform(
        |      generate_series(0, CAST(ceil(len(toks) / 10.0) AS BIGINT) - 1),
        |      i -> array_to_string(list_slice(toks, i*10+1, i*10+10), ' ')) AS ps
        |  FROM tk),
        |paras AS (
        |  SELECT doc_id, unnest(ps) AS para,
        |    unnest(generate_series(0, len(ps) - 1)) AS para_idx
        |  FROM pl),
        |marked AS (
        |  SELECT doc_id, para_idx, para,
        |    ROW_NUMBER() OVER (PARTITION BY md5(para)
        |                       ORDER BY doc_id, para_idx) = 1 AS is_first
        |  FROM paras),
        |stats AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_paras,
        |    CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    COALESCE(string_agg(para, ' ' ORDER BY para_idx)
        |             FILTER (WHERE is_first), '') AS cleaned_text
        |  FROM marked GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_paras, 0) AS n_paras,
        |  COALESCE(s.n_kept, 0) AS n_kept,
        |  COALESCE(s.n_paras - s.n_kept, 0) AS n_dropped,
        |  CASE WHEN COALESCE(s.n_paras, 0) = 0 THEN 0.0
        |       ELSE CAST(s.n_paras - s.n_kept AS DOUBLE) / s.n_paras END AS dup_frac,
        |  COALESCE(s.cleaned_text, '') AS cleaned_text
        |FROM documents d LEFT JOIN stats s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q189: q187's rule with corpus occurrences ranked ahead of batch
    // occurrences, output restricted to the batch side. q190 (staged
    // index form) shares it BY DESIGN — same answer, different plan.
    "q189_paragraph_dedup_incremental" -> q189OracleSql,
    "q190_paragraph_staged" -> q189OracleSql,
    // q54: the md5-keyed winnowing stream replayed in SQL — per-position
    // gram hash substr(md5(substr(text,i,8)),1,16), sliding window-of-16
    // minima over positions (the clamp i <= greatest(1, L-22) mirrors
    // the kernel's lastStart = max(0, nHashes - w)), distinct, then the
    // count + lexicographic min the query reports.
    "q54_rolling_fingerprint" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L
        |           FROM documents WHERE length(text) >= 8),
        |pos AS (SELECT doc_id, L, g.i AS i,
        |    substr(md5(substr(text, CAST(g.i AS INT), 8)), 1, 16) AS h
        |  FROM d, unnest(generate_series(1, L - 7)) AS g(i)),
        |wins AS (SELECT doc_id, i, L,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS m
        |  FROM pos),
        |sel AS (SELECT DISTINCT doc_id, m FROM wins
        |        WHERE i <= greatest(1, L - 22))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
        |  MIN(m) AS fp_min
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q77_normalize_text" ->
      """SELECT doc_id, text,
        |  regexp_replace(
        |    trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |    ' +', ' ', 'g') AS text_norm,
        |  md5(regexp_replace(
        |    trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |    ' +', ' ', 'g')) AS norm_digest,
        |  regexp_replace(
        |    trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |    ' +', ' ', 'g') <> text AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q78_chunk_windows" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |st AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(ceil(greatest(len(tk) - 10, 1) / 30.0) AS BIGINT) AS n_chunks FROM tk),
        |chunks AS (
        |  SELECT doc_id, tk, n_tokens,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        |  FROM st)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, n_tokens,
        |  CAST(len(tk[(chunk_id * 30 + 1):(chunk_id * 30 + 40)]) AS BIGINT) AS chunk_len,
        |  array_to_string(tk[(chunk_id * 30 + 1):(chunk_id * 30 + 40)], ' ') AS chunk_text
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,
    "q70_repetition_score" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |            FROM documents),
        |st AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
        |  tk FROM tk WHERE len(tk) >= 2),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1])) AS b FROM st),
        |bgc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n FROM bgc GROUP BY 1)
        |SELECT s.doc_id, s.n_tokens, s.n_distinct, t.top_bigram_n,
        |  CAST(s.n_distinct AS DOUBLE) / s.n_tokens AS distinct_ratio,
        |  CAST(t.top_bigram_n AS DOUBLE) / (s.n_tokens - 1) AS top_bigram_frac,
        |  (CAST(s.n_distinct AS DOUBLE) / s.n_tokens < 0.2
        |   OR CAST(t.top_bigram_n AS DOUBLE) / (s.n_tokens - 1) > 0.18) AS flag_repetitive
        |FROM st s JOIN top t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q71_ngram_containment" ->
      """WITH docsh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN []
        |      ELSE list_transform(generate_series(1, len(tk) - 2),
        |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS sh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents WHERE doc_id < 60)),
        |nonempty AS (SELECT doc_id, sh FROM docsh WHERE len(sh) > 0),
        |sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM nonempty),
        |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |  CAST(n_inter AS DOUBLE) / sa.n_sh AS cont_a_in_b,
        |  CAST(n_inter AS DOUBLE) / sb.n_sh AS cont_b_in_a
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q72_source_profile" ->
      """WITH d AS (SELECT source, lang, n_chars,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS short_frac
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q73_length_histogram" ->
      """WITH d AS (SELECT CAST(floor(
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) / 25.0) AS BIGINT) * 25
        |    AS bucket_lo FROM documents),
        |h AS (SELECT bucket_lo, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY 1)
        |SELECT bucket_lo, n_docs,
        |  CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS BIGINT) AS share
        |FROM h ORDER BY bucket_lo""".stripMargin,
    "q198_dup_spans" -> q198OracleSql,
    // q200 (staged index form) shares it BY DESIGN — same answer over
    // staged corpus ∪ batch, different plan.
    "q200_dup_spans_incremental" -> q198OracleSql,
    // q199: the removal twin — same positional grams (the oracle keys
    // on the gram STRING where the plan keys on its md5, the q198
    // equivalence), first occurrence via ROW_NUMBER over (doc_id, pos)
    // per gram = the plan's min(struct) rule, cut coverage replayed by
    // a NOT EXISTS interval probe per token.
    "q199_dup_span_remove" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS tks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, UNNEST(generate_series(1, len(tks) - 7)) AS i, tks
        |  FROM tk WHERE len(tks) >= 8),
        |gg AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    tks[i]||' '||tks[i+1]||' '||tks[i+2]||' '||tks[i+3]||' '||
        |      tks[i+4]||' '||tks[i+5]||' '||tks[i+6]||' '||tks[i+7] AS gram
        |  FROM g),
        |fo AS (
        |  SELECT doc_id, pos,
        |    ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |  FROM gg),
        |cut AS (SELECT doc_id, pos FROM fo WHERE rn >= 2),
        |runs AS (
        |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
        |  FROM (SELECT doc_id, pos,
        |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM cut)
        |  GROUP BY doc_id, grp),
        |nr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cut_runs
        |       FROM runs GROUP BY doc_id),
        |toks AS (
        |  SELECT doc_id, UNNEST(tks) AS tok,
        |    CAST(UNNEST(generate_series(0, len(tks) - 1)) AS BIGINT) AS tpos
        |  FROM tk),
        |kept AS (
        |  SELECT t.doc_id, t.tok, t.tpos FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM runs r
        |    WHERE r.doc_id = t.doc_id AND t.tpos BETWEEN r.s AND r.e)),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    COALESCE(string_agg(tok, ' ' ORDER BY tpos), '') AS cleaned
        |  FROM kept GROUP BY doc_id)
        |SELECT k.doc_id, CAST(len(k.tks) AS BIGINT) AS n_tokens,
        |  COALESCE(nr.n_cut_runs, 0) AS n_cut_runs,
        |  CAST(len(k.tks) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_cut_tokens,
        |  COALESCE(a.cleaned, '') AS cleaned_text
        |FROM tk k
        |LEFT JOIN nr USING (doc_id)
        |LEFT JOIN agg a ON a.doc_id = k.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    // q201: span-surgical decontamination — q199's interval-probe CTE
    // with the cut set defined by eval-gram MEMBERSHIP (any training
    // occurrence of an eval gram is cut; no first-occurrence
    // protection) and the output restricted to training docs.
    "q201_decontaminate_spans" -> q201OracleSql,
    // q202 composes Bloom-prefilter + exact verify ⇒ same answer as
    // q201: the oracle is q201's SQL verbatim (the sketch is an
    // optimization, not a semantic — the q92/q68 pattern).
    "q202_bloom_decontaminate_spans" -> q201OracleSql,
    "q68_decontaminate" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 8 THEN []
        |      ELSE list_distinct(list_transform(generate_series(1, len(tk) - 7),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' '
        |          || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) END AS gs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents)),
        |eval_g AS (SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE doc_id % 29 = 0),
        |train_g AS (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 29 <> 0),
        |hits AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        |  FROM train_g t JOIN eval_g e ON t.gram = e.gram
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(h.n_shared_grams, 0) AS n_shared_grams,
        |  COALESCE(h.n_shared_grams, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q92 composes Bloom-prefilter + exact verify ⇒ same answer as q68:
    // the oracle is q68's SQL verbatim (the sketch is an optimization,
    // not a semantic).
    "q92_bloom_decontaminate" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 8 THEN []
        |      ELSE list_distinct(list_transform(generate_series(1, len(tk) - 7),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' '
        |          || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) END AS gs
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents)),
        |eval_g AS (SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE doc_id % 29 = 0),
        |train_g AS (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 29 <> 0),
        |hits AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        |  FROM train_g t JOIN eval_g e ON t.gram = e.gram
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(h.n_shared_grams, 0) AS n_shared_grams,
        |  COALESCE(h.n_shared_grams, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q69_redact_pii" ->
      """SELECT event_id, props,
        |  regexp_replace(
        |    regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS props_redacted,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_digit_runs
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q55_char_ngram_langid" ->
      """WITH tri AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) < 3 THEN []
        |         ELSE list_transform(generate_series(1, length(text) - 2),
        |                             i -> substr(text, i, 3)) END AS t3,
        |    length(text) AS len
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(t3, t -> t IN ('the', 'he ', ' th', 'ing', 'nd '))) AS INTEGER) AS en_score,
        |  CAST(len(list_filter(t3, t -> t IN ('spa', 'par', 'ark', 'sca', 'que'))) AS INTEGER) AS jargon_score,
        |  CASE WHEN len < 3 THEN 'und'
        |       WHEN len(list_filter(t3, t -> t IN ('the', 'he ', ' th', 'ing', 'nd ')))
        |          > len(list_filter(t3, t -> t IN ('spa', 'par', 'ark', 'sca', 'que'))) THEN 'en'
        |       WHEN len(list_filter(t3, t -> t IN ('spa', 'par', 'ark', 'sca', 'que')))
        |          > len(list_filter(t3, t -> t IN ('the', 'he ', ' th', 'ing', 'nd '))) THEN 'jargon'
        |       ELSE 'und' END AS guess
        |FROM tri ORDER BY doc_id""".stripMargin,
    "q30_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS n_pieces,
        |  CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) = 0 THEN 0.0
        |       ELSE CAST(list_sum(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), x -> length(x))) AS DOUBLE)
        |            / len(list_filter(string_split(text, ' '), x -> x <> '')) END AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_quality_score" ->
      """WITH tk AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS INTEGER) AS n_stopwords,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks) END AS stopword_ratio,
        |  CASE WHEN len(toks) < 5 THEN 'too_short'
        |       WHEN len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) = 0 THEN 'no_stopwords'
        |       ELSE 'ok' END AS quality
        |FROM tk ORDER BY doc_id""".stripMargin,
    "q32_lang_profile" ->
      """SELECT lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q33_token_freq" ->
      """SELECT token, COUNT(*) AS freq FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY freq DESC, token LIMIT 20""".stripMargin,
    "q34_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q35_exact_dedup" ->
      """SELECT md5(lower(trim(text))) AS fingerprint,
        |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "q36_lang_id" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, lang AS labeled_lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS INTEGER) AS en_evidence,
        |  CASE WHEN len(toks) = 0 THEN 'empty'
        |       WHEN len(list_filter(toks, x -> x IN ('the','a','of','and'))) > 0 THEN 'en'
        |       ELSE 'unknown' END AS guessed_lang
        |FROM tk ORDER BY doc_id""".stripMargin,
    "q37_json_props" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
