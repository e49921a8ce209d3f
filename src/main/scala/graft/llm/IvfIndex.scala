package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline IVF (inverted-file) ANN index: k-means coarse quantization
  * (the build step) materialized as parquet, probed by the online query
  * ([[VectorOps.ivfTopK]]).
  *
  * The round-1 form re-ran `KMeans.fit` (5 distributed Lloyd
  * iterations) inside every query execution — pure per-query waste that
  * dominated the probe cost and would only grow with corpus size. This
  * is the standard offline-index/online-probe split instead (reference
  * behavior: an ETL pipeline stages derived tables once and queries them
  * many times; same shape as Silver→Gold staging):
  *
  *   - `lists/` — the inverted lists, `(vec_id, v, norm)` partitioned by
  *     `cell` exactly like a FAISS IVF stores vectors grouped by their
  *     nearest centroid. A probe filters on cell values, so the scan
  *     prunes to the probed partitions — at N vectors a 1-cell probe
  *     reads ~N/k rows and the planner proves it from directory names
  *     alone (PartitionFilters, no footer reads of other cells).
  *   - `centroids/` — `(cell, centroid)` for assigning out-of-corpus
  *     query vectors / multi-probe cell ranking.
  *
  * The cache key hashes (fixture dir, byte size, mtime): content drift
  * invalidates the key, so a stale index is never probed; indices live
  * under the JVM temp dir (or `GRAFT_INDEX_DIR`) and rebuild lazily.
  */
object IvfIndex {

  /** Index layout version — bump on any change to build parameters,
    * list schema, or kernel code so indices persisted by older builds
    * are never probed. */
  private val LayoutVersion = 2

  /** Deterministic per-(dir, size, mtime, k, layout) index location. The
    * key is the full 128-bit md5 of the identity string — a 32-bit hash
    * here would let two corpora collide and silently serve the wrong
    * inverted lists (wrong vec_ids, no error). */
  def indexDir(s: SparkSession, dir: String, k: Int = 16): String = {
    val corpus = graft.SessionMemo.manifestDigest(s, s"$dir/embeddings.parquet")
    graft.StagedAsset.dir("ivf", s"$dir|$corpus|k=$k|v=$LayoutVersion")
  }

  /** Offline build: fit k-means (k=16, fixed seed, 5 Lloyd iterations,
    * distributed), then write the inverted lists + centroids. Runs as a
    * scheduled pipeline stage at scale; here it is invoked lazily by
    * [[ensure]] on first probe of a corpus version. */
  def build(s: SparkSession, dir: String, k: Int = 16): String = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import graft.functions.VectorFunctions.dot_product
    val idx = indexDir(s, dir, k)
    // Stage the whole index into a private temp directory, then publish
    // with a single atomic rename: a concurrent JVM sharing
    // GRAFT_INDEX_DIR can never probe a half-written lists/ (the old
    // centroids-first ordering still exposed a window where lists/ was
    // mid-write under the final path).
    val tmp = graft.StagedAsset.tmpDir(idx)
    // NULL embeddings are unindexable (array_to_vector and KMeans both
    // NPE on them) and unsearchable — drop them at the build boundary,
    // the same contract a FAISS ingest applies. A null-dense slice at
    // scale (failed upstream embedder) shrinks the index rather than
    // failing the build; the probe side null-propagates on its own.
    val e = graft.Tables.tSpread(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").as("v"),
        array_to_vector(col("embedding")).as("features"))
    import s.implicits._
    if (e.isEmpty) {
      // Zero-vector corpus (at scale: a partition-pruned or brand-new
      // tenant slice): KMeans.fit would throw on an empty summarizer.
      // Stage a schema-stable EMPTY index instead — `cell` inlined as a
      // regular column (a partitionBy write of an empty frame emits NO
      // part files, and a later read of the dir cannot infer a schema),
      // repartition(1) forcing the one empty part file that carries the
      // schema. Probes join/prune against empty lists and return empty
      // results with their normal shapes.
      Seq.empty[(Int, Array[Double])].toDF("cell", "centroid")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/centroids")
      e.select(col("vec_id"), col("v"),
          lit(0.0).as("norm"), lit(0).as("cell"))
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/lists")
    } else {
      val model = new KMeans().setK(k).setSeed(42).setMaxIter(5)
        .setFeaturesCol("features").setPredictionCol("cell")
        .fit(e.select("features"))
      val centroids = model.clusterCenters.zipWithIndex.map {
        case (c, i) => (i, c.toArray)
      }
      centroids.toSeq.toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
      model.transform(e)
        .select(col("vec_id"), col("cell"), col("v"),
          sqrt(dot_product(col("v"), col("v"))).as("norm"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/lists")
    }
    graft.StagedAsset.publish(s, tmp, idx, "lists/_SUCCESS", "IVF index")
    idx
  }

  /** Build-if-absent, keyed by corpus version. Completeness is keyed on
    * lists/_SUCCESS under the final path, which only ever appears via
    * the atomic rename in [[build]]. */
  def ensure(s: SparkSession, dir: String): String =
    graft.StagedAsset.ensure(s, indexDir(s, dir), "lists/_SUCCESS") {
      build(s, dir)
    }

  /** The inverted lists of the (built-if-needed) index. */
  def lists(s: SparkSession, dir: String): DataFrame =
    graft.StagedAsset.read(s, s"${ensure(s, dir)}/lists")
}
