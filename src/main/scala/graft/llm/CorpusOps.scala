package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Corpus-curation operators, round 3: corpus-frequency boilerplate
  * filtering (the CCNet line-dedup shape applied to n-grams), TF-IDF
  * term profiling, character-entropy quality scoring, temperature-
  * scaled source mixture weights, and per-source duplication reporting.
  *
  * Scale posture matches the rest of the llm package: shuffle keys are
  * digests or small ids, never text; per-row analysis runs in fused
  * codegen kernels; global scalars ride broadcast cross-joins, not
  * driver collects.
  */
object CorpusOps {

  private def tokens(c: Column) = graft.functions.Tokenize.tokens(c)

  /** Corpus-frequency boilerplate filter — the CCNet idea (Wenzek et
    * al., "CCNet: Extracting high quality monolingual datasets from web
    * crawl data", 2020: dedup by the corpus-wide frequency of a
    * document's lines). Fixture text has no line structure, so the unit
    * is the distinct word-5-gram: a gram appearing in ≥ 3 distinct
    * documents is "common" (boilerplate — navigation chrome, license
    * headers, templated spans), and each document reports what fraction
    * of its grams are common. A doc that is mostly common grams is
    * template/duplicated matter even when no single full-text dup
    * exists.
    *
    * Plan shape: one scan; grams leave the scan as md5 digests (the
    * text never rides a shuffle); ONE exchange on the gram digest where
    * a window count computes corpus df; then a hash re-aggregation back
    * to doc_id. No self-join, no second scan — at 100 TB this is two
    * shuffles of (digest, doc_id) pairs. */
  def commonGramFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashKernels.shingle_array
    val grams = graft.Tables.tSpread(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(shingle_array(col("text"), 5))).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("g"))
    val wg = Window.partitionBy("g")
    grams
      .withColumn("df", count(lit(1)).over(wg))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_common"))
      .withColumn("common_frac",
        col("n_common").cast("double") / col("n_grams"))
      .withColumn("flag_boilerplate", col("common_frac") > 0.5)
      .orderBy("doc_id")
  }

  /** TF-IDF top-3 terms per document — the classic content-signature /
    * keyword-extraction job (Salton & Buckley 1988 weighting). tf is
    * the in-doc term count, df the number of documents containing the
    * term, idf = ln(N/df) over the N docs with at least one token.
    *
    * Plan shape: one (doc_id, term) hash aggregation is the only
    * corpus-sized shuffle; the df table is |vocab|-sized and BROADCASTS
    * back, and N rides a broadcast cross-join — so the per-term scoring
    * never re-shuffles the corpus. The top-3 window partitions by
    * doc_id (the aggregation already co-located it). Scores are rounded
    * to 4dp BEFORE ranking, ties broken by term, so the ranking is
    * cross-engine deterministic. */
  def tfidfTerms(s: SparkSession, dir: String): DataFrame = {
    // The tf frame feeds three consumers (scoring join, df table, N) —
    // materialized once so the corpus is scanned and tokenized once,
    // not three times (tf is the vocabulary-per-doc projection, a few
    // percent of corpus bytes, so caching it is the right trade at any
    // scale).
    val tf = graft.Materialize.stable(t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf")))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    // No broadcast hint on the df side: the vocabulary is unbounded at
    // corpus scale (URLs, typos, numerics make distinct-term counts
    // grow with the corpus), so an unconditional broadcast would OOM
    // the driver at 100 TB. The term key is already the exchange both
    // sides share, so AQE picks broadcast when dfT is actually small
    // (it measures the built side at runtime) and stays with a shuffle
    // join when it is not — the safe default either way.
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .orderBy("doc_id", "rank")
  }

  /** Character-entropy quality scoring: Shannon entropy of the char
    * distribution (nats) plus exact char/distinct-char counts, from the
    * one-pass fused kernel (functions.CharStats — the composed
    * explode-and-aggregate form would shuffle every character of the
    * corpus). Degenerate text (key-mashing, repeated fill, binary
    * spill) sits far below normal prose entropy; the flag marks docs
    * under 1.5 nats. Entropy accumulates in char-code order inside the
    * kernel, so the 4dp-rounded value is cross-engine reproducible (see
    * kernel scaladoc). Per-row, no shuffle. */
  def charEntropy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        graft.functions.HashKernels.char_stats(col("text")).as("cs"))
      .select(col("doc_id"),
        col("cs.n_chars").as("n_chars"),
        col("cs.n_distinct_chars").as("n_distinct_chars"),
        round(col("cs.entropy_nats"), 4).as("entropy_nats"))
      .withColumn("flag_low_entropy", col("entropy_nats") < 1.5)
      .orderBy("doc_id")

  /** Temperature-scaled source mixture weights — the multinomial
    * sampling weights for combining corpus sources, w_s ∝ n_s^α with
    * α = 0.5 (the temperature upsampling rule of multilingual pretrain
    * recipes — Conneau & Lample 2019 §3.1; α=0.5 is exactly sqrt, which
    * both engines round correctly, unlike a general pow). The
    * normalizer Σ√n_s is a float sum, so it accumulates over a SORTED
    * ascending list (`sort_array(collect_list(...))` here, an
    * ORDER-BY'd `list_sum` in the oracle) — cross-engine identical
    * term order, not whatever order the hash aggregation emits.
    * The source dimension is tiny; everything after the one groupBy is
    * broadcast arithmetic. */
  def mixtureWeights(s: SparkSession, dir: String): DataFrame = {
    // Materialized (the q109 rule): consumed by the normalizer AND the
    // final projection — unmaterialized, each consumer re-scans the
    // corpus for a |sources|-row frame.
    val counts = graft.Materialize.stable(t(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs")))
    val tot = counts
      .agg(sum(col("n_docs")).as("total_docs"),
        sort_array(collect_list(sqrt(col("n_docs").cast("double")))).as("zs"))
      .select(col("total_docs"),
        aggregate(col("zs"), lit(0.0), _ + _).as("z"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (col("n_docs").cast("double") / col("total_docs")).as("share"),
        round(sqrt(col("n_docs").cast("double")) / col("z"), 4).as("weight"))
      .orderBy("source")
  }

  /** Per-source duplication report — the provenance-level view of exact
    * dedup (q35): for each source, how many docs, how many distinct
    * texts, how many docs are exact copies of an earlier doc (the
    * md5-collapse rule: min doc_id per digest is canonical), and the
    * duplicate fraction. The number a curation run reads to decide
    * which source needs dedup before mixing. One digest aggregation +
    * one narrow join (doc_id, source, digest — text never shuffles) +
    * one source rollup. */
  def dupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(lower(trim(col("text")))).as("digest"))
    // Canonical = global min doc_id per digest (a dup group may span
    // sources). Window over the digest rather than aggregate+self-join:
    // one scan and one exchange of (doc_id, source, digest) — the text
    // itself never leaves the scan in either shape, but the join form
    // would scan and hash the corpus twice.
    val w = Window.partitionBy("digest")
    d.withColumn("rep", min(col("doc_id")).over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("digest")).as("n_distinct_texts"),
        sum(when(col("doc_id") =!= col("rep"), 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_frac", col("n_dup_docs").cast("double") / col("n_docs"))
      .orderBy("source")
  }

  /** q149 — duplication calibrated against document length: exact-dup
    * rate per 50-char length band. THE "which strata need dedup"
    * cross-tab: boilerplate-heavy corpora duplicate short docs far more
    * than long ones, and a mixture that re-weights by length (or a
    * filter that drops short docs) changes the effective dup rate this
    * table predicts. Bands are integer division (floor(n_chars/50)·50)
    * — cross-engine exact with NO global sort: an ntile-style decile
    * would put the whole corpus in one window task (the q24 rule), a
    * fixed integer banding is per-row.
    *
    * Plan: the q83 digest-window shape (one exchange of (doc_id,
    * n_chars, digest); text never leaves the scan) + a |bands|-row
    * rollup. */
  def lengthDupCalibration(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        md5(lower(trim(col("text")))).as("digest"))
    val w = Window.partitionBy("digest")
    d.withColumn("rep", min(col("doc_id")).over(w))
      .withColumn("band", floor(col("n_chars") / lit(50.0)).cast("long") * 50)
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("rep"), 1L).otherwise(0L)).as("n_dups"))
      .withColumn("dup_rate",
        round(col("n_dups").cast("double") / col("n_docs"), 6))
      .orderBy("band")
  }


  /** q163 — the per-source datasheet: one row per source with the
    * numbers every curation decision reads — volume, exact-dup rate
    * (q83's md5-collapse rule), token supply raw and after exact-dup
    * collapse, mean length, language spread, and the q82 temperature
    * weight. The "datasheets for datasets" card (Gebru et al. 2021)
    * reduced to the machine-checkable columns, and the single artifact
    * a mixture review meeting looks at.
    *
    * Plan: ONE corpus scan feeds a digest window (the q83 exchange)
    * and a per-source rollup; the weight normalizer is the q82
    * ordered-sum broadcast. Nothing here exceeds two narrow shuffles.
    */
  def sourceDatasheet(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("toks"),
        md5(lower(trim(col("text")))).as("digest"))
    val w = Window.partitionBy("digest")
    // Materialized (the q109 rule): the normalizer and the final
    // projection both consume this |sources|-row frame, and its
    // derivation is a full tokenize + digest-window corpus pass.
    val base = graft.Materialize.stable(
      d.withColumn("rep", min(col("doc_id")).over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") =!= col("rep"), 1L).otherwise(0L)).as("n_dup_docs"),
          sum(col("toks")).as("raw_tokens"),
          sum(when(col("doc_id") === col("rep"), col("toks")).otherwise(lit(0L)))
            .as("dedup_tokens"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs")))
    val z = base
      .agg(sort_array(collect_list(sqrt(col("n_docs").cast("double")))).as("zs"))
      .select(aggregate(col("zs"), lit(0.0), _ + _).as("z"))
    base.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6).as("dup_frac"),
        col("raw_tokens"), col("dedup_tokens"),
        round(col("total_chars").cast("double") / col("n_docs"), 4).as("mean_chars"),
        col("n_langs"),
        round(sqrt(col("n_docs").cast("double")) / col("z"), 6).as("weight"))
      .orderBy("source")
  }

  /** Snapshot diff between two corpus versions — the audit step of an
    * incremental ingest ("what changed since the last crawl?"): added /
    * removed / changed / unchanged status per doc_id by content digest.
    * The general form takes the two snapshots as frames; the fixture
    * adapter simulates version drift deterministically (old = docs with
    * id%5≠4 truncated to 120 chars — the pre-cleanup crawl; new = docs
    * with id%7≠3 at full text).
    *
    * Scale shape: each snapshot is scanned once and reduced to
    * (doc_id, digest) AT THE SCAN — text never rides the full-outer
    * shuffle, which carries 8+16 bytes per doc. At 100 TB the join
    * shuffles ~1/4000th of corpus bytes; with both snapshots bucketed
    * by doc_id it degenerates to a zip of co-located partitions. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame =
    oldSnap.select(col("doc_id"), md5(col("text")).as("old_digest"))
      .join(
        newSnap.select(col("doc_id"), md5(col("text")).as("new_digest")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_digest"), col("new_digest"),
        when(col("old_digest").isNull, "added")
          .when(col("new_digest").isNull, "removed")
          .when(col("old_digest") =!= col("new_digest"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy("doc_id")

  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    snapshotDiff(
      docs.filter(col("doc_id") % 5 =!= 4)
        .select(col("doc_id"), substring(col("text"), 1, 120).as("text")),
      docs.filter(col("doc_id") % 7 =!= 3).select(col("doc_id"), col("text")))
  }

  /** Cross-snapshot dedup-cluster provenance — the audit a curation
    * team runs after every recrawl (builds on q88's per-doc content
    * diff and q115's dedup curve): which docs changed DUP-CLUSTER
    * membership between two corpus versions — clusters that gained
    * members (merged), lost members (split), or got a new canonical
    * representative (the id every downstream dedup decision keys on).
    * Clusters are lead-fingerprint groups — md5 of the first
    * 10 tokens, the boilerplate-prefix clustering of q187's paragraph
    * unit (exact-text clusters are all singletons in the fixture, so
    * the lead unit is what carries real merge/split structure);
    * canonical = min doc_id, the q35 rule.
    *
    * Snapshot drift is simulated deterministically like q88: old =
    * docs with id%10 ≠ 7 (batch 7 not yet crawled — the q76/q84 ingest
    * boundary), new = docs with id%10 ≠ 3 (batch 3 expired in the
    * recrawl). Statuses: `recanonicalized` (canonical changed — every
    * stored dedup decision keyed on it is stale), `merged` / `split`
    * (membership grew / shrank under the same canonical), `unchanged`,
    * and `added` / `removed` for docs in only one snapshot.
    *
    * Scale shape: docs reduce AT THE SCAN to (doc_id, 16-byte key,
    * two booleans); ONE hash aggregation on the key computes both
    * snapshots' (canon, size) via conditional min/sum — the two corpus
    * versions are NOT scanned or clustered separately; the join back
    * keys on 16 bytes. Text never rides a shuffle. */
  def clusterDiff(s: SparkSession, dir: String): DataFrame = {
    val tk = graft.functions.Tokenize.tokens(col("text"))
    // Materialized (the q109 rule): keyed feeds the cluster aggregation
    // AND the join back — unmaterialized, each consumer re-scans and
    // re-digests the corpus. Narrow by construction: 8+16 bytes + two
    // booleans per doc, text never survives past this line.
    val keyed = graft.Materialize.stable(t(s, dir, "documents")
      .select(col("doc_id"),
        md5(array_join(slice(tk, 1, 10), " ")).as("ck"),
        (col("doc_id") % 10 =!= 7).as("in_old"),
        (col("doc_id") % 10 =!= 3).as("in_new")))
    val clusters = keyed.groupBy("ck").agg(
      min(when(col("in_old"), col("doc_id"))).as("old_canon"),
      sum(when(col("in_old"), 1L).otherwise(0L)).as("old_size"),
      min(when(col("in_new"), col("doc_id"))).as("new_canon"),
      sum(when(col("in_new"), 1L).otherwise(0L)).as("new_size"))
    keyed.join(clusters, "ck")
      .select(col("doc_id"),
        when(col("in_old"), col("old_canon")).otherwise(-1L).as("old_canon"),
        when(col("in_old"), col("old_size")).otherwise(0L).as("old_size"),
        when(col("in_new"), col("new_canon")).otherwise(-1L).as("new_canon"),
        when(col("in_new"), col("new_size")).otherwise(0L).as("new_size"),
        when(!col("in_old"), "added")
          .when(!col("in_new"), "removed")
          .when(col("old_canon") =!= col("new_canon"), "recanonicalized")
          .when(col("new_size") > col("old_size"), "merged")
          .when(col("new_size") < col("old_size"), "split")
          .otherwise("unchanged").as("status"))
      .orderBy("doc_id")
  }

  /** Per-doc adjacent-token-pair rows (doc_id, w1, w2) — the shared
    * emission of q89/q95. The token_bigrams kernel emits the pairs in
    * one codegen'd byte pass, and explode of an empty array drops
    * <2-token docs. */
  private def bigramRows(s: SparkSession, dir: String): DataFrame =
    graft.Tables.tSpread(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.HashKernels.token_bigrams(col("text"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Adjacent-token-pair frequencies — the counting step of one
    * BPE/WordPiece merge round (Sennrich et al. 2016 §3.2, lifted from
    * chars to whitespace tokens): the top-20 most frequent adjacent
    * pairs are the merge candidates, with corpus occurrence and
    * document-frequency counts. Pairs are emitted map-side by
    * [[bigramRows]]; ONE hash aggregation on the pair
    * is the only corpus shuffle (count + distinct-doc count share it as
    * a partial-agg pair), and the top-20 plans as TakeOrderedAndProject
    * — per-partition heads, no global sort. Count-desc then pair-asc
    * makes the cut deterministic cross-engine. */
  def tokenPairMerges(s: SparkSession, dir: String): DataFrame = {
    bigramRows(s, dir)
      .select(col("doc_id"), concat(col("w1"), lit(" "), col("w2")).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(20)
  }

  /** Corpus-LM negative-log-likelihood quality score — the
    * perplexity-filter shape of CCNet/Gopher (score each document under
    * a language model trained on the corpus; outliers are noise or
    * boilerplate), with the LM being an add-1-smoothed word-bigram model
    * trained on the corpus itself in the same plan:
    * P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+|V|), doc score = mean −ln P over
    * the doc's bigrams. A real pipeline swaps in a pretrained KenLM —
    * the dataflow (broadcastable model stats joined back to per-doc
    * events) is identical; training in-plan keeps the operator
    * self-contained and exactly oracle-checkable.
    *
    * Plan shape: ONE tokenize pass feeds the per-doc bigram counts
    * (doc_id, w₁, w₂, n) — the vocabulary-per-doc projection, a few
    * percent of corpus bytes, materialized once like q80's tf frame.
    * Corpus bigram counts c₁₂ and history counts c₁ re-aggregate that
    * frame (narrow, no second scan); |V| is a projection-only second
    * scan (distinct tokens, column-pruned at parquet). The scoring join
    * keys on (w₁,w₂)/(w₁) — the exchanges the count aggregations already
    * made, so AQE broadcasts when the model is small and shuffle-joins
    * when it is not (same posture as q80). Float determinism: each
    * bigram's ln is rounded to 6dp, weighted by its exact integer count,
    * and the per-doc sum accumulates over a sorted list — cross-engine
    * identical term order. */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(col("text"))
    // Per-doc bigram counts: pairs emitted map-side by the fused
    // token_bigrams kernel (q89's shared bigramRows emission),
    // aggregated per (doc, w1, w2).
    val docPair = graft.Materialize.stable(
      bigramRows(s, dir)
        .groupBy("doc_id", "w1", "w2")
        .agg(count(lit(1)).as("n")))
    val c12 = docPair.groupBy("w1", "w2").agg(sum(col("n")).as("c12"))
    val c1 = docPair.groupBy("w1").agg(sum(col("n")).as("c1"))
    val v = t(s, dir, "documents")
      .select(explode(tk).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    docPair
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("wlogp",
        round(log((col("c12") + 1).cast("double") / (col("c1") + col("v"))), 6)
          * col("n"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_bigrams"),
        sort_array(collect_list(col("wlogp"))).as("ws"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-aggregate(col("ws"), lit(0.0), _ + _) / col("n_bigrams"), 4)
          .as("nll"))
      .withColumn("flag_outlier", col("nll") > 7.0)
      .orderBy("doc_id")
  }

  /** Heavy-hitter tokens via an in-plan count-min sketch + exact verify
    * (Cormode & Muthukrishnan 2005) — the bounded-memory path to "which
    * tokens dominate the corpus". The sketch is d=4 hashed counter rows
    * of w=2048 buckets built with ONE tiny aggregation (partial agg
    * compresses each partition to ≤ d·w counters before the shuffle, so
    * shuffle volume is O(d·w·partitions), independent of corpus size);
    * candidates are the distinct tokens whose min-over-depths estimate
    * clears the threshold. CMS only overestimates, so candidates ⊇ the
    * true heavy set, and the exact counting pass — the expensive
    * full-vocabulary shuffle at 100 TB — runs ONLY over candidate
    * occurrences (left-semi prune at the scan side). Overestimated
    * stragglers die in the exact filter, so the composed operator is
    * exact and shares the plain frequency-threshold oracle. */
  def heavyHitters(s: SparkSession, dir: String, minFreq: Long = 500L): DataFrame = {
    val d = 4
    val w = 2048
    val toks = graft.Tables.tSpread(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
    val buckets = (0 until d).map(i =>
      struct(lit(i).as("depth"), pmod(xxhash64(col("tok"), lit(i)), lit(w)).as("bucket")))
    val cms = toks
      .select(explode(array(buckets: _*)).as("db"))
      .groupBy(col("db.depth").as("depth"), col("db.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val candidates = toks.distinct()
      .select(col("tok"), explode(array(buckets: _*)).as("db"))
      .select(col("tok"), col("db.depth").as("depth"), col("db.bucket").as("bucket"))
      .join(broadcast(cms), Seq("depth", "bucket"))
      .groupBy("tok")
      .agg(min(col("cnt")).as("est"))
      .filter(col("est") >= minFreq)
      .select("tok")
    toks.join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("tok"))
  }

  /** Incremental aggregate maintenance by algebraic merge — the
    * materialized-view upkeep every warehouse ingest runs: per-stratum
    * partial aggregates of the existing corpus merge with the incoming
    * batch's partials through the monoid ops (sum/sum/max/min), WITHOUT
    * rescanning the corpus. The fixture splits on doc_id % 10 = 7 (the
    * repo's standard ingest boundary); the oracle recomputes from
    * scratch over everything — merged partials must equal it exactly.
    * At 100 TB the "old" side is a few rows per stratum read from the
    * previous run's output; only the batch is scanned. */
  def aggMaintenance(s: SparkSession, dir: String): DataFrame = {
    def partial(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("source"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"), col("n_chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        max(col("n_chars")).as("max_chars"), min(col("doc_id")).as("min_id"))
    val docs = t(s, dir, "documents")
    partial(docs.filter(col("doc_id") % 10 =!= 7))
      .unionAll(partial(docs.filter(col("doc_id") % 10 === 7)))
      .groupBy("source", "lang")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        max(col("max_chars")).as("max_chars"), min(col("min_id")).as("min_id"))
      .orderBy("source", "lang")
  }

  /** Exact per-source length quantiles by ORDER-STATISTIC selection
    * (p50/p90/p99 of n_chars) — the distribution profile a curation run
    * reads before choosing chunking/packing budgets. Selection, not
    * interpolation: the k-th smallest value with k = ⌈q·n⌉ computed in
    * integer arithmetic ((q·n + den − 1) div den), so every reported
    * quantile is an input value and the result is cross-engine exact —
    * the same property q91's median/MAD uses. The q109 histogram shape,
    * grouped: one (source, n_chars) aggregation collapses the corpus to
    * distinct-length rows, `Prefix.cumSumsBy` runs the per-source
    * cumulative count block-parallel, and each quantile is the first
    * length whose cumulative count reaches k — a per-source rank window
    * would instead sort |corpus|/|sources| rows in one task. */
  def lengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    def k(num: Int, den: Int) =
      floor((col("n") * num + (den - 1)) / den).cast("long")
    val hist = t(s, dir, "documents")
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    val n = hist.groupBy("source").agg(sum(col("cnt")).as("n"))
    graft.ops.Prefix.cumSumsBy(hist, Seq("source"), "n_chars", Seq("cnt"))
      .join(broadcast(n), Seq("source"))
      .groupBy("source")
      .agg(
        max(col("n")).as("n_docs"),
        min(when(col("cnt_cum") >= k(1, 2), col("n_chars"))).as("p50"),
        min(when(col("cnt_cum") >= k(9, 10), col("n_chars"))).as("p90"),
        min(when(col("cnt_cum") >= k(99, 100), col("n_chars"))).as("p99"))
      .orderBy("source")
  }

  /** Vocabulary-growth (Heaps-law) curve — cumulative token and
    * distinct-type counts as the corpus is scanned in doc_id order, one
    * row per 50-doc bucket, with the running type/token ratio. The
    * curve a corpus builder reads to size tokenizer vocabularies and
    * detect template/duplication plateaus (a flattening TTR means new
    * documents stop contributing new vocabulary).
    *
    * "Cumulative distinct" without a running-distinct window (which
    * would buffer the vocabulary per row): a type is NEW at exactly one
    * doc — its min doc_id — so per-bucket new-type counts are a plain
    * aggregation of the term table's min, and the cumulative curve is a
    * distributed two-level prefix sum over the bucket table
    * ([[graft.ops.Prefix.cumSums]] — the bucket table is |docs|/50 rows,
    * which at corpus scale is itself 10⁸+, so an unpartitioned running
    * window here would funnel the whole curve through one task). Two
    * corpus-sized shuffles (doc key, term key), then block-parallel
    * arithmetic on |buckets| rows. The TTR is a single exact division
    * of integer counts — unrounded, both engines produce the identical
    * double. */
  def vocabGrowth(s: SparkSession, dir: String, bucket: Long = 50L): DataFrame = {
    val tok = graft.Tables.tSpread(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val newPerDoc = tok.groupBy("tok").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_new"))
    val perBucket = perDoc.join(newPerDoc, Seq("doc_id"), "left")
      .withColumn("bucket", floor(col("doc_id") / bucket))
      .groupBy("bucket")
      .agg(sum(col("n_tok")).as("toks"),
        sum(coalesce(col("n_new"), lit(0L))).as("news"))
    graft.ops.Prefix.cumSums(perBucket, "bucket", Seq("toks", "news"))
      .select(col("bucket"),
        col("toks_cum").as("n_tokens_cum"),
        col("news_cum").as("n_distinct_cum"))
      .withColumn("ttr",
        col("n_distinct_cum").cast("double") / col("n_tokens_cum"))
      .orderBy("bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q110_vocab_growth" -> ((s, dir) => vocabGrowth(s, dir)),
    "q79_common_gram_filter" -> commonGramFilter,
    "q80_tfidf_terms" -> tfidfTerms,
    "q81_char_entropy" -> charEntropy,
    "q82_mixture_weights" -> mixtureWeights,
    "q83_dup_rate_by_source" -> dupRateBySource,
    "q149_length_dup_calibration" -> lengthDupCalibration,
    "q163_source_datasheet" -> sourceDatasheet,
    "q88_snapshot_diff" -> snapshotDiff,
    "q188_cluster_diff" -> clusterDiff,
    "q89_token_pair_merges" -> tokenPairMerges,
    "q95_lm_perplexity" -> lmPerplexity,
    "q98_heavy_hitters" -> ((s, dir) => heavyHitters(s, dir)),
    "q99_agg_maintenance" -> aggMaintenance,
    "q100_length_quantiles" -> lengthQuantiles)

  val oracleSql: Map[String, String] = Map(
    "q163_source_datasheet" ->
      """WITH d AS (SELECT doc_id, source, lang, n_chars,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS toks,
        |    md5(lower(trim(text))) AS digest
        |  FROM documents),
        |r AS (SELECT *, MIN(doc_id) OVER (PARTITION BY digest) AS rep FROM d),
        |base AS (SELECT source,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_docs,
        |    CAST(SUM(toks) AS BIGINT) AS raw_tokens,
        |    CAST(SUM(CASE WHEN doc_id = rep THEN toks ELSE 0 END) AS BIGINT)
        |      AS dedup_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM r GROUP BY 1),
        |tot AS (SELECT list_sum(list(sqrt(CAST(n_docs AS DOUBLE))
        |    ORDER BY sqrt(CAST(n_docs AS DOUBLE)))) AS z FROM base)
        |SELECT source, n_docs, n_dup_docs,
        |  round(CAST(n_dup_docs AS DOUBLE) / n_docs, 6) AS dup_frac,
        |  raw_tokens, dedup_tokens,
        |  round(CAST(total_chars AS DOUBLE) / n_docs, 4) AS mean_chars,
        |  n_langs,
        |  round(sqrt(CAST(n_docs AS DOUBLE)) / z, 6) AS weight
        |FROM base CROSS JOIN tot ORDER BY source""".stripMargin,
    "q149_length_dup_calibration" ->
      """WITH d AS (SELECT doc_id, n_chars, md5(lower(trim(text))) AS digest
        |           FROM documents),
        |r AS (SELECT doc_id, n_chars,
        |    MIN(doc_id) OVER (PARTITION BY digest) AS rep
        |  FROM d)
        |SELECT CAST(floor(n_chars / 50.0) AS BIGINT) * 50 AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  round(CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_rate
        |FROM r GROUP BY 1 ORDER BY band""".stripMargin,
    "q110_vocab_growth" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        |       FROM tok GROUP BY 1),
        |nd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
        |       FROM (SELECT tok, MIN(doc_id) AS doc_id FROM tok GROUP BY 1)
        |       GROUP BY 1),
        |pb AS (SELECT CAST(floor(pd.doc_id / 50) AS BIGINT) AS bucket,
        |    CAST(SUM(pd.n_tok) AS BIGINT) AS toks,
        |    CAST(SUM(COALESCE(nd.n_new, 0)) AS BIGINT) AS news
        |  FROM pd LEFT JOIN nd USING (doc_id) GROUP BY 1)
        |SELECT bucket,
        |  CAST(SUM(toks) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS n_tokens_cum,
        |  CAST(SUM(news) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS n_distinct_cum,
        |  CAST(SUM(news) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(SUM(toks) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |        AS BIGINT) AS ttr
        |FROM pb ORDER BY bucket""".stripMargin,
    "q79_common_gram_filter" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |            FROM documents),
        |g AS (SELECT doc_id, md5(unnest(list_distinct(
        |    CASE WHEN len(tk) < 5 THEN []
        |      ELSE list_transform(generate_series(1, len(tk) - 4),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
        |          || tk[i+3] || ' ' || tk[i+4]) END))) AS gd
        |  FROM tk),
        |f AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY gd) AS df FROM g)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        |  CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS common_frac,
        |  (CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) > 0.5
        |    AS flag_boilerplate
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q80_tfidf_terms" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tk GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    round(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 4)
        |      AS score
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q81_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE length(text) > 0),
        |cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
        |      FROM documents WHERE length(text) > 0),
        |e AS (SELECT cc.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
        |    list_sum(list((CAST(cnt AS DOUBLE) / n.n_chars)
        |        * ln(CAST(cnt AS DOUBLE) / n.n_chars) ORDER BY c)) AS s
        |  FROM cc JOIN n ON cc.doc_id = n.doc_id
        |  GROUP BY cc.doc_id)
        |SELECT n.doc_id, n.n_chars, e.n_distinct_chars,
        |  round(0.0 - e.s, 4) AS entropy_nats,
        |  round(0.0 - e.s, 4) < 1.5 AS flag_low_entropy
        |FROM n JOIN e ON n.doc_id = e.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "q82_mixture_weights" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
        |    list_sum(list(sqrt(CAST(n_docs AS DOUBLE))
        |      ORDER BY sqrt(CAST(n_docs AS DOUBLE)))) AS z
        |  FROM c)
        |SELECT source, n_docs,
        |  CAST(n_docs AS DOUBLE) / total_docs AS share,
        |  round(sqrt(CAST(n_docs AS DOUBLE)) / z, 4) AS weight
        |FROM c CROSS JOIN tot ORDER BY source""".stripMargin,
    "q83_dup_rate_by_source" ->
      """WITH d AS (SELECT doc_id, source, md5(lower(trim(text))) AS digest
        |           FROM documents),
        |g AS (SELECT digest, MIN(doc_id) AS rep FROM d GROUP BY 1)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT d.digest) AS BIGINT) AS n_distinct_texts,
        |  CAST(SUM(CASE WHEN d.doc_id <> g.rep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(SUM(CASE WHEN d.doc_id <> g.rep THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS dup_frac
        |FROM d JOIN g ON d.digest = g.digest
        |GROUP BY source ORDER BY source""".stripMargin,
    "q188_cluster_diff" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(
        |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 10), ' ')) AS ck,
        |    doc_id % 10 <> 7 AS in_old,
        |    doc_id % 10 <> 3 AS in_new
        |  FROM documents),
        |c AS (
        |  SELECT ck,
        |    MIN(CASE WHEN in_old THEN doc_id END) AS old_canon,
        |    CAST(SUM(CASE WHEN in_old THEN 1 ELSE 0 END) AS BIGINT) AS old_size,
        |    MIN(CASE WHEN in_new THEN doc_id END) AS new_canon,
        |    CAST(SUM(CASE WHEN in_new THEN 1 ELSE 0 END) AS BIGINT) AS new_size
        |  FROM k GROUP BY ck)
        |SELECT k.doc_id,
        |  CASE WHEN in_old THEN old_canon ELSE -1 END AS old_canon,
        |  CASE WHEN in_old THEN old_size ELSE 0 END AS old_size,
        |  CASE WHEN in_new THEN new_canon ELSE -1 END AS new_canon,
        |  CASE WHEN in_new THEN new_size ELSE 0 END AS new_size,
        |  CASE WHEN NOT in_old THEN 'added'
        |       WHEN NOT in_new THEN 'removed'
        |       WHEN old_canon <> new_canon THEN 'recanonicalized'
        |       WHEN new_size > old_size THEN 'merged'
        |       WHEN new_size < old_size THEN 'split'
        |       ELSE 'unchanged' END AS status
        |FROM k JOIN c USING (ck)
        |ORDER BY doc_id""".stripMargin,
    "q88_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id, md5(substr(text, 1, 120)) AS old_digest
        |  FROM documents WHERE doc_id % 5 <> 4),
        |new AS (
        |  SELECT doc_id, md5(text) AS new_digest
        |  FROM documents WHERE doc_id % 7 <> 3)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, old_digest, new_digest,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN old_digest <> new_digest THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q98_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |               AS tok
        |             FROM documents)
        |SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        |FROM tok GROUP BY tok
        |HAVING COUNT(*) >= 500
        |ORDER BY freq DESC, tok""".stripMargin,
    "q99_agg_maintenance" ->
      """SELECT source, lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
        |    AS BIGINT) AS n_tokens,
        |  MAX(n_chars) AS max_chars,
        |  MIN(doc_id) AS min_id
        |FROM documents
        |GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    "q100_length_quantiles" ->
      """WITH s AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents)
        |SELECT source, MAX(n) AS n_docs,
        |  MAX(CASE WHEN rn = CAST(floor((n * 1 + 1) / 2) AS BIGINT)
        |      THEN n_chars END) AS p50,
        |  MAX(CASE WHEN rn = CAST(floor((n * 9 + 9) / 10) AS BIGINT)
        |      THEN n_chars END) AS p90,
        |  MAX(CASE WHEN rn = CAST(floor((n * 99 + 99) / 100) AS BIGINT)
        |      THEN n_chars END) AS p99
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "q95_lm_perplexity" ->
      """WITH tkv AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |             FROM documents),
        |p AS (SELECT doc_id,
        |    unnest(CASE WHEN len(tk) < 2 THEN []
        |      ELSE list_transform(generate_series(1, len(tk) - 1),
        |           i -> struct_pack(w1 := tk[i], w2 := tk[i+1])) END) AS pr
        |  FROM tkv),
        |dp AS (SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |       FROM p GROUP BY 1, 2, 3),
        |c12q AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12
        |         FROM dp GROUP BY 1, 2),
        |c1q AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS c1 FROM dp GROUP BY 1),
        |vq AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        |       FROM (SELECT unnest(tk) AS tok FROM tkv)),
        |sc AS (SELECT dp.doc_id, dp.n,
        |    round(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v)), 6) * dp.n AS wlogp
        |  FROM dp JOIN c12q USING (w1, w2) JOIN c1q USING (w1) CROSS JOIN vq)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |  round(0.0 - list_sum(list(wlogp ORDER BY wlogp)) / SUM(n), 4) AS nll,
        |  (round(0.0 - list_sum(list(wlogp ORDER BY wlogp)) / SUM(n), 4) > 7.0)
        |    AS flag_outlier
        |FROM sc GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q89_token_pair_merges" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |            FROM documents),
        |p AS (SELECT doc_id,
        |    unnest(CASE WHEN len(tk) < 2 THEN []
        |      ELSE list_transform(generate_series(1, len(tk) - 1),
        |           i -> tk[i] || ' ' || tk[i+1]) END) AS pair
        |  FROM tk)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occ,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM p GROUP BY pair
        |ORDER BY n_occ DESC, pair LIMIT 20""".stripMargin)
}
