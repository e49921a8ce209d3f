package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.Tokenize.tokens

/** Composed Spark forms that specs compare the fused kernels and the
  * LSH pipelines against. No query runs them, so they live with the
  * specs. */
object ReferenceForms {

  /** Exact double-precision dot product of two array<double> columns,
    * accumulated left-to-right (deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Composed-builtin simhash: the reference for the fused simhash64
    * kernel. */
  def simhashComposed(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(col("text"))
    // Bit masks are Scala-side literals (shift functions require them).
    val bitVotes = aggregate(
      tk,
      array_repeat(lit(0L), 64),
      (acc, tok) => {
        val h = xxhash64(tok)
        val votes = array((0 until 64).map(i =>
          when(h.bitwiseAND(lit(1L << i)) =!= 0, 1L).otherwise(-1L)): _*)
        zip_with(acc, votes, (x, y) => x + y)
      })
    // Disjoint bit contributions sum to the fingerprint (plain + == OR).
    val sh = (0 until 64).map(i =>
      when(element_at(bitVotes, i + 1) > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    t(s, dir, "documents")
      .select(col("doc_id"), sh.as("simhash"))
      .orderBy("doc_id")
  }

  /** Brute-force thresholded 3-gram Jaccard pairs over the whole corpus
    * — the ground-truth set the LSH pipelines must reproduce. O(n²) in
    * the worst case by definition (it IS the verification oracle, never
    * the production path); the differential gate runs it at fixture
    * scales against `minhashNearDup` / `docEmbedNearDup` so a fixture
    * regeneration that breaks candidate recall fails with a named-pair
    * diagnostic instead of an opaque oracle hash mismatch. */
  def exactNearDupBrute(s: SparkSession, dir: String, minJaccard: Double): DataFrame = {
    val docSh = graft.Tables.tSpread(s, dir, "documents")
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        graft.functions.HashKernels.shingle_array(col("text"), 3).as("sh"))
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
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
