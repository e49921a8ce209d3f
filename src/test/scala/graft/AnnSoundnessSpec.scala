package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One-sided soundness gate for the approximate ANN probe (q46).
  *
  * q46's RECALL is inherently approximate (which candidates an 8-bit
  * hyperplane bucket surfaces has no closed form), so it cannot carry a
  * full equality oracle — but its SOUNDNESS can be pinned exactly:
  * every returned (query_id, vec_id, sim) must carry the true cosine
  * for those ids, and the per-query ranking must be internally
  * consistent. The exact plan path itself is oracle-checked by the
  * bits=0 full-probe twin (q86, DuckDB brute-force SQL); this spec adds
  * the cross-implementation score check on the approximate output.
  */
class AnnSoundnessSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"

  test("every q46 row's sim equals the composed-form exact cosine for its ids") {
    // Recompute with the COMPOSED arithmetic (zip_with + aggregate +
    // double casts), not the fused DotProduct kernel the query ran —
    // an independent implementation of the same IEEE accumulation.
    val ann = llm.VectorOps.annTopK(spark, dir)
    val e = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val recomputed = ann
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(e, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("sim"),
        round(ReferenceForms.cosine(col("qv"), col("v")), 4).as("exact"))
    val bad = recomputed.filter(col("sim") =!= col("exact")).collect()
    assert(bad.isEmpty,
      s"ANN returned a score that is not the exact cosine: ${bad.mkString(", ")}")
    assert(ann.count() > 0, "q46 vacuous")
  }

  test("q46 per-query ranking is dense and ordered by (sim desc, vec_id)") {
    val rows = llm.VectorOps.annTopK(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    rows.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq,
        s"query $q: rn not dense from 1")
      val resorted = sorted.sortBy(t => (-t._3, t._2))
      assert(resorted.toSeq == sorted.toSeq,
        s"query $q: rows not ordered by (sim desc, vec_id)")
    }
  }

  test("bits=0 full probe through the ANN plan equals the brute-force plan") {
    val viaAnn = llm.VectorOps.annTopK(spark, dir, bits = 0, qLo = 0L, qHi = 5L)
      .collect().map(_.toSeq).toSeq
    val brute = llm.VectorOps.cosineTopK(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaAnn == brute,
      "full-probe ANN and brute-force top-k diverged — shared ranking tail drifted")
  }
}
