package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-side operators over the document corpus: BM25 ranking
  * (the lexical-search baseline every data-curation stack keeps next to
  * its embedding ANN) and the train/test split-leakage audit (near-dup
  * pairs that straddle a holdout boundary — the contamination a dedup
  * pipeline exists to prevent).
  *
  * Float posture (the q95 rule): BM25's per-term score is ONE double
  * expression assembled from exact integer counts (tf, df, dl, N,
  * Σdl) with an identical operation tree in Spark and the DuckDB
  * oracle, rounded to 6dp and cast to DECIMAL(18,6) BEFORE the
  * per-document sum — so the sum is exact integer arithmetic and
  * order-independent, and ranking ties break on doc_id.
  */
object RetrievalOps {

  /** BM25 parameters (Robertson & Spärck Jones; the k1/b defaults the
    * IR literature settled on). Written as the literals 2.2 (= k1+1),
    * 1.2 (= k1) and 0.25 / 0.75 (= 1−b / b) in BOTH engines so the
    * IEEE expression trees match bit-for-bit. */
  private[graft] val QueryTerms: Seq[(Long, String)] = Seq(
    (1L, "spark"), (1L, "stream"), (1L, "join"),
    (2L, "hash"), (2L, "merge"), (2L, "sort"),
    (3L, "customer"), (3L, "vector"), (3L, "window"))

  /** q125 — BM25 top-10 documents per query.
    *
    * score(q,d) = Σ_{t∈q} ln(1 + (N − df + 0.5)/(df + 0.5))
    *                · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Plan shape at 100 TB: ONE corpus tokenize+count shuffle builds the
    * (doc, term, tf) posting frame; document length and document
    * frequency are narrow re-aggregations of it (no second pass over
    * text); the query-term table is a user-provided literal joined
    * BEFORE the df/dl joins so only matching postings ride the scoring
    * joins (AQE broadcasts the pruned sides — the q80 posture, no
    * unconditional broadcast of a vocabulary-sized frame); corpus
    * scalars (N, Σdl) are a broadcast 1-row frame; top-10 per query
    * plans as a rank-window over the per-query partition. The output is
    * at most 10 × |query ids| rows, so its final sort runs in one
    * partition (no range exchange, no sampling job). */
  /** The shared BM25 scoring tail: identical expression tree for the
    * in-query (q125) and staged-index (q130) paths by construction.
    * `tf` may be pre-pruned to the query terms; `dfQ` must be pruned
    * (≤|query terms| rows, broadcastable at any corpus size — never the
    * q80-class unbounded-vocabulary broadcast). */
  private[graft] def bm25Score(tf: DataFrame, dl: DataFrame, dfQ: DataFrame,
      stats: DataFrame, q: DataFrame): DataFrame = {
    val contrib = tf
      .join(broadcast(q), Seq("term"))
      .join(broadcast(dfQ), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib", round(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * ((col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75)
              * (col("dl") / (col("tot").cast("double") / col("n_docs")))))),
        6).cast("decimal(18,6)"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("s").desc, col("doc_id"))
    contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("s"), count(lit(1)).as("n_terms_hit"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms_hit"), col("s").cast("double").as("score"))
      .repartition(1)
      .orderBy("query_id", "rank")
  }

  def bm25Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = graft.Materialize.stable(
      graft.Tables.tSpread(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Tokenize.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val q = QueryTerms.toDF("query_id", "term")
    val dfQ = dfT.join(broadcast(q.select("term").distinct()), Seq("term"))
    bm25Score(tf, dl, dfQ, stats, q)
  }

  /** q130 — BM25 against the STAGED posting index ([[PostingIndex]]) —
    * the production form of q125: the corpus tokenize + count is an
    * offline staging stage, and the per-query probe reads ONLY the
    * query terms' posting lists — partition pruning on the terms' md5
    * buckets (driver-computed literals) plus a pushed term-equality
    * filter, so probe scan cost is proportional to the matched postings
    * rather than the corpus. Output is identical to q125 (same scoring
    * tail, same DuckDB oracle); RetrievalGraphSpec pins the
    * equivalence row-for-row. */
  def bm25Staged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = PostingIndex.ensure(s, dir)
    val terms = QueryTerms.map(_._2).distinct
    val buckets = terms.map(PostingIndex.bucketOf).distinct
    val tf = graft.StagedAsset.read(s, s"$idx/postings")
      .filter(col("pbucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select("doc_id", "term", "tf")
    val dl = graft.StagedAsset.read(s, s"$idx/doclen")
    val dfQ = graft.StagedAsset.read(s, s"$idx/df")
      .filter(col("term").isin(terms: _*))
    val stats = graft.StagedAsset.read(s, s"$idx/stats")
    bm25Score(tf, dl, dfQ, stats, QueryTerms.toDF("query_id", "term"))
  }

  /** q132 — posting-index maintenance: BM25 over the staged corpus
    * index PLUS an un-indexed ingest batch merged in-plan (the q106
    * pattern applied to the lexical index). The index stages everything
    * that is not the batch; per query, only the BATCH is tokenized
    * (O(batch) — doc sets are disjoint so posting/doclen rows union
    * without per-key merging, df and the corpus scalars add), then the
    * shared scoring tail runs over the merged frames. The integrity
    * contract: the merged index must rank EXACTLY like a fresh
    * full-corpus build — the oracle is the q125 full-corpus SQL, so a
    * posting lost or double-counted by the merge is a hash mismatch.
    * At scale the batch would then be appended as new files per bucket
    * partition; the corpus lists are read, never rewritten. */
  def bm25AddBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val boundary = PostingIndex.Boundary.ingestMod10
    val idx = PostingIndex.ensure(s, dir, boundary)
    val terms = QueryTerms.map(_._2).distinct
    val buckets = terms.map(PostingIndex.bucketOf).distinct
    val batchTf = graft.Materialize.stable(
      graft.Tables.tSpread(s, dir, "documents")
        .filter(boundary.isBatch(col("doc_id")))
        .select(col("doc_id"),
          explode(graft.functions.Tokenize.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val tf = graft.StagedAsset.read(s, s"$idx/postings")
      .filter(col("pbucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select("doc_id", "term", "tf")
      .unionByName(batchTf.filter(col("term").isin(terms: _*)))
    val dl = graft.StagedAsset.read(s, s"$idx/doclen")
      .unionByName(batchTf.groupBy("doc_id").agg(sum(col("tf")).as("dl")))
    val dfQ = graft.StagedAsset.read(s, s"$idx/df")
      .filter(col("term").isin(terms: _*))
      .unionByName(batchTf.filter(col("term").isin(terms: _*))
        .groupBy("term").agg(count(lit(1)).as("df")))
      .groupBy("term").agg(sum(col("df")).as("df"))
    val batchStats = batchTf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .agg(count(lit(1)).as("bn"), coalesce(sum(col("dl")), lit(0L)).as("bt"))
    val stats = graft.StagedAsset.read(s, s"$idx/stats")
      .crossJoin(broadcast(batchStats))
      .select((col("n_docs") + col("bn")).as("n_docs"),
        (col("tot") + col("bt")).as("tot"))
    bm25Score(tf, dl, dfQ, stats, QueryTerms.toDF("query_id", "term"))
  }

  /** The q97 split rule as an expression over a doc-id column — salted
    * md5 bucket, 90/5/5. Kept textually in lockstep with
    * SamplingOps.splitAssign (same salt, same thresholds). */
  private def splitOf(id: Column): Column = {
    val bucket = substring(md5(concat(lit("split1:"), id.cast("string"))), 1, 8)
    when(bucket < "e6666666", "train")
      .when(bucket < "f3333333", "val")
      .otherwise("test")
  }

  /** q126 — split-leakage audit: bucket every verified near-dup pair
    * (q43's ≥ 0.8 exact-Jaccard contract) by the q97 holdout splits of
    * its two endpoints. A near-dup pair with endpoints in different
    * splits is test-set contamination the dedup stage must remove
    * before the holdout score means anything (the leakage studied by
    * Lee et al. 2022 for C4/RealNews duplicates).
    *
    * Cost is the q43 cascade (staged collapse + banding + verify) plus
    * a per-pair md5 label and a tiny (≤6-row) aggregation — nothing new
    * rides a shuffle, so the 100 TB posture is exactly q43's. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val pairs = NearDupOps.minhashNearDup(s, dir)
    val lab = pairs.select(
      splitOf(col("doc_a")).as("sa"), splitOf(col("doc_b")).as("sb"))
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
    val agg = lab.groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"))
    val tot = agg.agg(sum(col("n_pairs")).as("total"))
    agg.crossJoin(broadcast(tot))
      .select(col("split_lo"), col("split_hi"), col("n_pairs"),
        (col("split_lo") =!= col("split_hi")).as("crosses_split"),
        round(col("n_pairs").cast("double") / col("total"), 4).as("share"))
      .orderBy("split_lo", "split_hi")
  }

  /** q140 — hybrid query-by-example retrieval via Reciprocal Rank
    * Fusion (Cormack, Clarke & Buettcher, SIGIR 2009): for each probe
    * document (doc_id < 3; the embeddings table shares the id space),
    * fuse the SEMANTIC ranking (brute cosine over embeddings — the q40
    * kernel; at corpus scale the ANN/IVF paths q46/q57 generate the
    * candidate list instead, and the fusion tail is unchanged) with the
    * LEXICAL ranking (3-token-shingle Jaccard against the probe text —
    * the q44 kernel; the posting index q130 is its staged form) through
    * RRF(d) = Σ_lists 1/(60 + rank_list(d)) at list depth 50.
    *
    * Determinism: both rankings order by their score ROUNDED to 4dp
    * with doc-id tie-break (the q40 contract), so every rank — and
    * hence the fused score, a sum of two exact rationals — is an
    * integer-derived value both engines compute identically. A doc
    * missing from one list contributes 0 for that list (the standard
    * RRF convention).
    *
    * Plan at scale: both rankers are probe-bounded — the probe rows
    * broadcast into one linear corpus scan each (no corpus self-join);
    * the fusion full-outer-joins two ≤|probes|·depth row frames, and
    * top-10 plans as a rank window over the per-query partition. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    import graft.Tables.t
    val depth = 50
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"),
        sqrt(dot_product(col("embedding"), col("embedding"))).as("norm"))
    val qv = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
    val wSem = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("doc_id"))
    val sem = e.join(broadcast(qv), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(dot_product(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4)
          .as("sim"))
      .withColumn("r_sem", row_number().over(wSem).cast("long"))
      .filter(col("r_sem") <= depth)

    // Fused ShingleArray kernel, NOT the composed transform() form —
    // the composed higher-order lambda runs interpreted per row, and
    // this shingling pass covers the whole corpus (the q107 lesson:
    // 14x at soak scale).
    val docSh = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.HashKernels.shingle_array(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val sizes = docSh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val ex = docSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val probeEx = ex.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("shingle"))
    val probeSizes = sizes.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("n_sh").as("n_q"))
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("jac").desc, col("doc_id"))
    val lex = ex.join(broadcast(probeEx), Seq("shingle"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes, Seq("doc_id"))
      .join(broadcast(probeSizes), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(col("n_inter").cast("double")
          / (col("n_q") + col("n_sh") - col("n_inter")), 4).as("jac"))
      .withColumn("r_lex", row_number().over(wLex).cast("long"))
      .filter(col("r_lex") <= depth)

    val fused = sem.select(col("query_id"), col("doc_id"), col("r_sem"))
      .join(lex.select(col("query_id"), col("doc_id"), col("r_lex")),
        Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("r_sem"), lit(-1L)).as("r_sem"),
        coalesce(col("r_lex"), lit(-1L)).as("r_lex"),
        round(coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)), 6).as("rrf"))
    val wF = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rn", row_number().over(wF).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy("query_id", "rn")
  }


  /** q159 — hard-negative mining for retrieval training (the DPR
    * recipe, Karpukhin et al. 2020): for each query, the top BM25 hit
    * is the POSITIVE; the remaining top-10 candidates are candidate
    * negatives — minus any that are near-duplicates (same q62 cluster)
    * of the positive, which would be FALSE negatives that teach the
    * model to push away correct answers. The output is the
    * (query, positive, negative, rank, score) training tuples.
    *
    * Plan: rides the q125 scoring tail and the staged q62 label frame;
    * the exclusion is one left-anti join on (cluster of positive ==
    * cluster of candidate) over a ≤|queries|·10-row frame — everything
    * corpus-sized is already staged. Oracle = q125's CTE + the q62
    * recursive-CTE labels + the same anti-join, exact. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val ranked = bm25Search(s, dir)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
    val labels = NearDupOps.dupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val pos = ranked.filter(col("rank") === 1)
      .select(col("query_id"), col("doc_id").as("pos_doc"))
      .join(labels.select(col("doc_id").as("pos_doc"),
        col("cluster_id").as("pos_cluster")), Seq("pos_doc"), "left_outer")
    val neg = ranked.filter(col("rank") > 1)
      .join(labels.select(col("doc_id"), col("cluster_id").as("neg_cluster")),
        Seq("doc_id"), "left_outer")
    neg.join(broadcast(pos), Seq("query_id"))
      .filter(col("neg_cluster").isNull || col("pos_cluster").isNull ||
        col("neg_cluster") =!= col("pos_cluster"))
      .select(col("query_id"), col("pos_doc"), col("doc_id").as("neg_doc"),
        col("rank"), col("score"))
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q125_bm25_search" -> bm25Search,
    "q126_split_leakage" -> splitLeakage,
    "q130_bm25_staged" -> bm25Staged,
    "q132_bm25_add_batch" -> bm25AddBatch,
    "q140_hybrid_rrf" -> hybridRrf,
    "q159_hard_negatives" -> hardNegatives)

  /** The full-corpus BM25 oracle — shared verbatim by q125 (in-query),
    * q130 (staged index), and q132 (staged index + in-plan batch merge):
    * all three must rank the full corpus identically. */
  private val bm25FullCorpusOracle: String =
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
        |q(query_id, term) AS (VALUES
        |  (CAST(1 AS BIGINT), 'spark'), (CAST(1 AS BIGINT), 'stream'),
        |  (CAST(1 AS BIGINT), 'join'), (CAST(2 AS BIGINT), 'hash'),
        |  (CAST(2 AS BIGINT), 'merge'), (CAST(2 AS BIGINT), 'sort'),
        |  (CAST(3 AS BIGINT), 'customer'), (CAST(3 AS BIGINT), 'vector'),
        |  (CAST(3 AS BIGINT), 'window')),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |    CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
        |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
        |        * (dl / (CAST(tot AS DOUBLE) / n_docs))))), 6)
        |      AS DECIMAL(18,6)) AS contrib
        |  FROM tf JOIN q USING (term) JOIN dfq USING (term)
        |  JOIN dl USING (doc_id) CROSS JOIN stats),
        |agg AS (SELECT query_id, doc_id, SUM(contrib) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        |  FROM sc GROUP BY 1, 2),
        |rk AS (SELECT query_id, doc_id, s, n_terms_hit,
        |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id)
        |      AS rank
        |  FROM agg)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_terms_hit,
        |  CAST(s AS DOUBLE) AS score
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q159_hard_negatives" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
        |q(query_id, term) AS (VALUES
        |  (CAST(1 AS BIGINT), 'spark'), (CAST(1 AS BIGINT), 'stream'),
        |  (CAST(1 AS BIGINT), 'join'), (CAST(2 AS BIGINT), 'hash'),
        |  (CAST(2 AS BIGINT), 'merge'), (CAST(2 AS BIGINT), 'sort'),
        |  (CAST(3 AS BIGINT), 'customer'), (CAST(3 AS BIGINT), 'vector'),
        |  (CAST(3 AS BIGINT), 'window')),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |    CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
        |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
        |        * (dl / (CAST(tot AS DOUBLE) / n_docs))))), 6)
        |      AS DECIMAL(18,6)) AS contrib
        |  FROM tf JOIN q USING (term) JOIN dfq USING (term)
        |  JOIN dl USING (doc_id) CROSS JOIN stats),
        |agg AS (SELECT query_id, doc_id, SUM(contrib) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        |  FROM sc GROUP BY 1, 2),
        |rk AS (SELECT query_id, doc_id, s,
        |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id)
        |      AS rank
        |  FROM agg),
        |docsh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN []
        |      ELSE list_transform(generate_series(1, len(tk) - 2),
        |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS sh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents)),
        |nonempty AS (SELECT doc_id, sh FROM docsh WHERE len(sh) > 0),
        |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM nonempty),
        |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
        |labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
        |ranked AS (SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |    CAST(s AS DOUBLE) AS score FROM rk WHERE rank <= 10),
        |pos AS (SELECT query_id, r.doc_id AS pos_doc, l.cluster_id AS pos_cluster
        |  FROM ranked r LEFT JOIN labels l ON l.doc_id = r.doc_id
        |  WHERE rank = 1),
        |neg AS (SELECT query_id, rank, r.doc_id, score, l.cluster_id AS neg_cluster
        |  FROM ranked r LEFT JOIN labels l ON l.doc_id = r.doc_id
        |  WHERE rank > 1)
        |SELECT n.query_id, p.pos_doc, n.doc_id AS neg_doc, n.rank, n.score
        |FROM neg n JOIN pos p ON p.query_id = n.query_id
        |WHERE n.neg_cluster IS NULL OR p.pos_cluster IS NULL
        |   OR n.neg_cluster <> p.pos_cluster
        |ORDER BY n.query_id, n.rank""".stripMargin,
    "q125_bm25_search" -> bm25FullCorpusOracle,
    "q130_bm25_staged" -> bm25FullCorpusOracle,
    "q132_bm25_add_batch" -> bm25FullCorpusOracle,
    "q140_hybrid_rrf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |sem0 AS (
        |  SELECT query_id, e.vec_id AS doc_id,
        |    ROUND(list_dot_product(qv, v)
        |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS sim
        |  FROM q JOIN e ON e.vec_id <> q.query_id),
        |sem AS (
        |  SELECT query_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY sim DESC, doc_id) AS BIGINT) AS r_sem
        |  FROM sem0 QUALIFY r_sem <= 50),
        |docsh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN []
        |      ELSE list_transform(generate_series(1, len(tk) - 2),
        |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS sh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents)),
        |nonempty AS (SELECT doc_id, sh FROM docsh WHERE len(sh) > 0),
        |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM nonempty),
        |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty),
        |lex0 AS (
        |  SELECT p.doc_id AS query_id, c.doc_id AS doc_id,
        |    ROUND(CAST(COUNT(*) AS DOUBLE)
        |      / (sq.n_sh + sc.n_sh - COUNT(*)), 4) AS jac
        |  FROM ex p JOIN ex c ON p.shingle = c.shingle
        |    AND p.doc_id < 3 AND c.doc_id <> p.doc_id
        |  JOIN sizes sq ON sq.doc_id = p.doc_id
        |  JOIN sizes sc ON sc.doc_id = c.doc_id
        |  GROUP BY 1, 2, sq.n_sh, sc.n_sh),
        |lex AS (
        |  SELECT query_id, doc_id, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY jac DESC, doc_id) AS BIGINT) AS r_lex
        |  FROM lex0 QUALIFY r_lex <= 50),
        |f AS (
        |  SELECT query_id, doc_id,
        |    COALESCE(r_sem, CAST(-1 AS BIGINT)) AS r_sem,
        |    COALESCE(r_lex, CAST(-1 AS BIGINT)) AS r_lex,
        |    round(COALESCE(CAST(1 AS DOUBLE) / (60 + r_sem), 0)
        |        + COALESCE(CAST(1 AS DOUBLE) / (60 + r_lex), 0), 6) AS rrf
        |  FROM sem FULL OUTER JOIN lex USING (query_id, doc_id))
        |SELECT query_id, doc_id, r_sem, r_lex, rrf,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rn
        |FROM f QUALIFY rn <= 10 ORDER BY query_id, rn""".stripMargin,
    "q126_split_leakage" ->
      """WITH docsh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN []
        |      ELSE list_transform(generate_series(1, len(tk) - 2),
        |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS sh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents)),
        |nonempty AS (SELECT doc_id, sh FROM docsh WHERE len(sh) > 0),
        |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM nonempty),
        |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8),
        |lab AS (
        |  SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi
        |  FROM (SELECT
        |    CASE WHEN substring(md5('split1:' || CAST(doc_a AS VARCHAR)), 1, 8)
        |        < 'e6666666' THEN 'train'
        |      WHEN substring(md5('split1:' || CAST(doc_a AS VARCHAR)), 1, 8)
        |        < 'f3333333' THEN 'val' ELSE 'test' END AS sa,
        |    CASE WHEN substring(md5('split1:' || CAST(doc_b AS VARCHAR)), 1, 8)
        |        < 'e6666666' THEN 'train'
        |      WHEN substring(md5('split1:' || CAST(doc_b AS VARCHAR)), 1, 8)
        |        < 'f3333333' THEN 'val' ELSE 'test' END AS sb
        |    FROM pairs)),
        |agg AS (SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |        FROM lab GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS total FROM agg)
        |SELECT split_lo, split_hi, n_pairs,
        |  split_lo <> split_hi AS crosses_split,
        |  round(CAST(n_pairs AS DOUBLE) / total, 4) AS share
        |FROM agg CROSS JOIN tot
        |ORDER BY split_lo, split_hi""".stripMargin)
}
