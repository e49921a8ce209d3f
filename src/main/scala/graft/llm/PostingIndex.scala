package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline inverted (posting-list) index for lexical retrieval — the
  * staging tables that make BM25 queries pay the corpus tokenize +
  * count ONCE per corpus version instead of once per query. Same
  * offline-build/online-probe split and atomic-publish discipline as
  * [[BandIndex]] / [[IvfIndex]].
  *
  * Staged tables:
  *   - `postings/` — (term, doc_id, tf), PARTITIONED by `pbucket` (the
  *     first md5 byte of the term, 256 directories): a probe computes
  *     its query terms' buckets driver-side and prunes to those
  *     directories, then the term equality predicate prunes row groups
  *     — per-query scan cost is proportional to the matched posting
  *     lists, not the corpus.
  *   - `doclen/` — (doc_id, dl): document lengths in tokens.
  *   - `df/` — (term, df): document frequencies (vocabulary-sized but
  *     narrow; probes read it term-pruned, never whole).
  *   - `stats/` — one row (n_docs, tot): the corpus scalars.
  *
  * The index is keyed on the corpus version (path | bytes | mtime) and
  * the layout version; publication is a staging write plus one atomic
  * rename with completeness keyed on `stats/_SUCCESS` (stats is written
  * last), so a concurrent probe can never read a half-written index. */
object PostingIndex {

  /** Which docs are the incoming batch (excluded from the staged
    * corpus side). Mirrors [[BandIndex.Boundary]]; `id` is part of the
    * index cache key, so two boundaries never share a directory. */
  final case class Boundary(id: String,
      isBatch: org.apache.spark.sql.Column => org.apache.spark.sql.Column)

  object Boundary {
    /** No batch: the whole corpus is staged (the q130 form). */
    val all: Boundary = Boundary("batch=none", _ => lit(false))
    /** The fixture ingest stand-in (doc_id ≡ 7 mod 10 is the batch),
      * shared with BandIndex/IvfIndex maintenance queries. */
    val ingestMod10: Boundary =
      Boundary(NearDupOps.isNewDocKey, NearDupOps.isNewDoc)
  }

  /** Bump on any change to staged schemas or the tokenizer contract. */
  private val LayoutVersion = 1

  /** Partition bucket of a term — first md5 byte, hex. Computable both
    * as a Column (build side) and driver-side (probe pruning). */
  def bucketOf(term: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8")).take(1).map(b => f"$b%02x").mkString

  def indexDir(s: SparkSession, dir: String, boundary: Boundary): String = {
    val corpus = graft.SessionMemo.manifestDigest(s, s"$dir/documents.parquet")
    graft.StagedAsset.dir("postings", s"$dir|$corpus|postings" +
      s"|${boundary.id}|v=$LayoutVersion")
  }

  /** Offline build over the corpus side (everything that is not the
    * boundary's batch): ONE tokenize+count shuffle, then narrow
    * re-aggregations — identical staging to q125's in-query tf frame,
    * written once per corpus version. */
  def build(s: SparkSession, dir: String, boundary: Boundary): String = {
    val idx = indexDir(s, dir, boundary)
    val tmp = graft.StagedAsset.tmpDir(idx)
    val tf = graft.Materialize.stable(
      graft.Tables.tSpread(s, dir, "documents")
        .filter(!boundary.isBatch(col("doc_id")))
        .select(col("doc_id"),
          explode(graft.functions.Tokenize.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    // Empty corpus side (at scale: a partition-pruned or brand-new
    // slice): a partitionBy/0-partition write emits NO part files and a
    // later read of the dir cannot infer a schema — stage schema-stable
    // empty tables instead (pbucket inlined, repartition(1) forcing the
    // one empty part file that carries the schema).
    val tfEmpty = tf.isEmpty
    if (tfEmpty)
      tf.withColumn("pbucket", substring(md5(col("term")), 1, 2))
        .repartition(1)
        .write.mode("overwrite").parquet(s"$tmp/postings")
    else
      tf.withColumn("pbucket", substring(md5(col("term")), 1, 2))
        .repartition(col("pbucket"))
        .write.partitionBy("pbucket").mode("overwrite").parquet(s"$tmp/postings")
    def wr(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      (if (tfEmpty) df.repartition(1) else df)
        .write.mode("overwrite").parquet(path)
    val doclen = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    wr(doclen, s"$tmp/doclen")
    wr(tf.groupBy("term").agg(count(lit(1)).as("df")), s"$tmp/df")
    s.read.schema(doclen.schema).parquet(s"$tmp/doclen")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      .write.mode("overwrite").parquet(s"$tmp/stats")
    graft.StagedAsset.publish(s, tmp, idx, "stats/_SUCCESS",
      "posting index")
    idx
  }

  /** Build-if-absent, keyed by (corpus version, boundary). */
  def ensure(s: SparkSession, dir: String,
      boundary: Boundary = Boundary.all): String =
    graft.StagedAsset.ensure(s, indexDir(s, dir, boundary),
        "stats/_SUCCESS") {
      build(s, dir, boundary)
    }
}
