package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming maintenance of the BM25 posting index — the lexical
  * member of the streaming-maintenance matrix (exact-dedup digests and
  * MinHash bands already stream; postings had only the single-shot
  * add-batch, q132). Per micro-batch of (doc_id, text) arrivals the
  * maintainer tokenizes ONLY the batch and appends four delta segments
  * under `delta/b<id>/`:
  *   - `postings/` (doc_id, term, tf, pbucket) — the batch's term
  *     frequencies, bucketed by the same md5-prefix rule the staged
  *     index partitions on, so probe-side pruning covers the delta too;
  *   - `doclen/` (doc_id, dl);
  *   - `df/` (term, df) — the batch's per-term document counts, summed
  *     with the base df at probe time;
  *   - `stats/` (n_docs, tot) — the batch's corpus-scalar increments.
  * Unlike the dedup maintainers, postings are PURELY ADDITIVE — the
  * batch write depends on nothing but the batch, so replay of an
  * unacknowledged batch is idempotent by construction (batch-id-keyed
  * overwrite), with no earlier-segment read to get wrong. The contract
  * assumes arrivals carry corpus-distinct doc_ids; in the deployed
  * pipeline the streaming digest maintainer
  * ([[StreamingIndexMaintenance.dedupMaintain]]) sits upstream and
  * makes re-arrivals visible before they reach the index.
  *
  * [[bm25StreamedProbe]] is the query path: base segments ∪ delta
  * segments, df and the scalars summed, then the SAME scoring tail as
  * q125/q130/q132 — so the integrity contract carries over verbatim:
  * the streamed index must rank exactly like a fresh full-corpus
  * build, which StreamingPostingMaintenanceSpec pins against the
  * oracle-checked q125 over three file arrivals.
  *
  * 100 TB posture: per batch the work is one O(batch) tokenize+count
  * shuffle; the corpus lists are never read, let alone rewritten. The
  * base index is rebuilt offline on its own cadence, compacting the
  * delta segments into the bucket partitions (the PostingIndex
  * contract). */
object StreamingPostingMaintenance {

  private def segSchema(sub: String): StructType = sub match {
    case "postings" => StructType(Seq(StructField("doc_id", LongType),
      StructField("term", StringType), StructField("tf", LongType),
      StructField("pbucket", StringType)))
    case "doclen" => StructType(Seq(StructField("doc_id", LongType),
      StructField("dl", LongType)))
    case "df" => StructType(Seq(StructField("term", StringType),
      StructField("df", LongType)))
    case "stats" => StructType(Seq(StructField("n_docs", LongType),
      StructField("tot", LongType)))
  }

  private val subs =
    Seq("postings", "doclen", "df", "stats").map(x => x -> segSchema(x))

  /** One delta sub-table across ALL landed batches (additive segments
    * need no strictly-before filtering at probe time). */
  def deltaSeg(s: SparkSession, deltaDir: String, sub: String): DataFrame =
    MaintainerHarness.delta(s, deltaDir, sub, segSchema(sub))

  /** The foreachBatch function: tokenize the batch, append its posting
    * slice. Every frame derives from `batch` alone; segment writes,
    * transient release, and the compaction cadence are the shared
    * [[MaintainerHarness]] skeleton. */
  def postingMaintain(deltaDir: String, foldSegments: Int = MaintainerHarness.FoldSegmentsDefault)
      (batch: DataFrame, batchId: Long): Unit =
    MaintainerHarness.maintain(subs, deltaDir, foldSegments) { (ctx, b) =>
      val tf = ctx.pin(
        b.select(col("doc_id"),
          explode(graft.functions.Tokenize.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      Map(
        "postings" ->
          tf.withColumn("pbucket", substring(md5(col("term")), 1, 2)),
        "doclen" -> dl,
        "df" -> tf.groupBy("term").agg(count(lit(1)).as("df")),
        "stats" -> dl.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("tot")))
    }(batch, batchId)

  /** BM25 ranking over base index ∪ streamed delta — q130's staged
    * probe with the delta unioned in: postings pruned by term (and by
    * md5 bucket on the base side's partition layout), df summed
    * per-term across segments, corpus scalars added. Must rank exactly
    * like a fresh full-corpus build (the q132 contract). */
  def bm25StreamedProbe(s: SparkSession, baseIdx: String,
      deltaDir: String): DataFrame = {
    import s.implicits._
    import graft.llm.RetrievalOps.QueryTerms
    val terms = QueryTerms.map(_._2).distinct
    val buckets = terms.map(graft.llm.PostingIndex.bucketOf).distinct
    val tf = graft.StagedAsset.read(s, s"$baseIdx/postings")
      .filter(col("pbucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select("doc_id", "term", "tf")
      .unionByName(deltaSeg(s, deltaDir, "postings")
        .filter(col("pbucket").isin(buckets: _*) && col("term").isin(terms: _*))
        .select("doc_id", "term", "tf"))
    val dl = graft.StagedAsset.read(s, s"$baseIdx/doclen")
      .unionByName(deltaSeg(s, deltaDir, "doclen"))
    val dfQ = graft.StagedAsset.read(s, s"$baseIdx/df")
      .filter(col("term").isin(terms: _*))
      .unionByName(deltaSeg(s, deltaDir, "df")
        .filter(col("term").isin(terms: _*)))
      .groupBy("term").agg(sum(col("df")).as("df"))
    val deltaStats = deltaSeg(s, deltaDir, "stats")
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("dn"),
        coalesce(sum(col("tot")), lit(0L)).as("dt"))
    val stats = graft.StagedAsset.read(s, s"$baseIdx/stats")
      .crossJoin(broadcast(deltaStats))
      .select((col("n_docs") + col("dn")).as("n_docs"),
        (col("tot") + col("dt")).as("tot"))
    graft.llm.RetrievalOps.bm25Score(tf, dl, dfQ, stats,
      QueryTerms.toDF("query_id", "term"))
  }
}
