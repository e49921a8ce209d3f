package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{IvfIndex, PostingIndex, RetrievalOps, VectorOps}
import graft.ops.{GraphIndex, GraphOps, TimeSeriesOps}

/** Value-level checks for the round-4 retrieval/graph/feature operators
  * (q125–q128) on controlled fixtures; the DuckDB oracle pins them on
  * the driver tables. */
class RetrievalGraphSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("retr").toString
    rows.map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def ordersDir(rows: Seq[(Long, Long, Double, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("ord").toString
    rows.map { case (ok, ck, price, date) =>
      (ok, ck, "F", price,
        java.time.LocalDateTime.parse(s"${date}T00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/orders.parquet")
    d
  }

  private def lineitemDir(orderParts: Seq[(Long, Long)]): String = {
    val d = java.nio.file.Files.createTempDirectory("li").toString
    orderParts.zipWithIndex.map { case ((ok, pk), i) =>
      (ok, pk, 1L, i + 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
        java.time.LocalDateTime.parse("2024-01-01T00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  test("bm25 ranks the doc matching more query terms higher, idf discounts common terms") {
    // doc 0 contains two query-1 terms; doc 1 contains one; every doc
    // shares the filler so 'spark' has high df (low idf).
    val rows = Seq(
      (0L, "spark stream spark stream filler"),
      (1L, "spark filler filler filler filler"),
      (2L, "filler only text here now"))
    val r = RetrievalOps.bm25Search(spark, docsDir(rows)).collect()
      .filter(_.getLong(0) == 1L)
    assert(r.nonEmpty)
    assert(r.head.getLong(2) == 0L, "doc 0 (two matching terms) must rank first")
    assert(r.head.getLong(3) == 2L)             // n_terms_hit
    val hit = r.map(x => x.getLong(2) -> x.getDouble(4)).toMap
    assert(hit(0L) > hit(1L), "score must order by term coverage")
    // hand-computed contract: N=3, avgdl=5; 'stream' df=1 tf=2 dl=5
    //   idf_stream = ln(1 + 2.5/1.5); tfw = 2*2.2/(2 + 1.2*(0.25+0.75*1))
    //   'spark' df=2 tf=2: idf = ln(1 + 1.5/2.5), same tfw
    val tfw = 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * (5.0 / 5.0)))
    val expected = BigDecimal(math.rint(math.log(1 + 2.5 / 1.5) * tfw * 1e6) / 1e6) +
      BigDecimal(math.rint(math.log(1 + 1.5 / 2.5) * tfw * 1e6) / 1e6)
    assert(math.abs(hit(0L) - expected.toDouble) < 1e-9)
  }

  test("split leakage buckets near-dup pairs by their holdout splits") {
    // Identical texts => verified near-dup pairs at jaccard 1. Splits
    // come from the salted md5 of doc_id, recomputed here exactly.
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split1:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      if (hex < "e6666666") "train" else if (hex < "f3333333") "val" else "test"
    }
    val ids = (0L until 40L)
    val dup = "alpha beta gamma delta epsilon zeta"
    val rows = ids.map(i => (i, dup)) // one 40-clique of identical docs
    val r = RetrievalOps.splitLeakage(spark, docsDir(rows)).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getBoolean(3), x.getDouble(4))).toMap
    // brute-force the expected pair census from the same split rule
    val expected = (for {
      a <- ids; b <- ids if a < b
      s = Seq(split(a), split(b)).sorted
    } yield (s(0), s(1))).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(r.keySet == expected.keySet)
    val total = expected.values.sum.toDouble
    expected.foreach { case (k, n) =>
      val (nPairs, crosses, share) = r(k)
      assert(nPairs == n, s"pair census for $k")
      assert(crosses == (k._1 != k._2))
      assert(share == math.rint(n / total * 1e4) / 1e4)
    }
  }

  test("decayed spend halves per 30-day bucket and sums exactly") {
    // anchor = 2024-03-01. cust 1: 100.00 at the anchor (bucket 0) and
    // 50.00 45 days earlier (bucket 1) -> 100 + 25 = 125. cust 2: one
    // order 75 days back (bucket 2) -> 80 * 0.25 = 20.
    val d = ordersDir(Seq(
      (1L, 1L, 100.0, "2024-03-01"),
      (2L, 1L, 50.0, "2024-01-16"),
      (3L, 2L, 80.0, "2023-12-17")))
    val r = TimeSeriesOps.decayedSpend(spark, d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) == ((2L, 125.0)))
    assert(r(2L) == ((1L, 20.0)))
  }

  test("triangle counts find exactly the closed part triples") {
    // order 1 carries {1,2,3} (one triangle), order 2 carries {3,4},
    // order 3 re-states edge {1,2}, order 4 carries {2,3,4} (second
    // triangle) => parts 2 and 3 sit in both triangles, 1 and 4 in one.
    val d = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L),
      (4L, 2L), (4L, 3L), (4L, 4L)))
    val r = GraphOps.triangleCounts(spark, d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(3L) == ((3L, 2L)), "part 3: degree 3, two triangles")
    assert(r(1L) == ((2L, 1L)))
    assert(r(2L) == ((3L, 2L)), "part 2: degree 3, two triangles")
    assert(r(4L) == ((2L, 1L)))
  }

  test("pagerank respects graph symmetry and conserves mass") {
    // Same 4-node graph as the triangle test. Its automorphisms swap
    // 2<->3 and 1<->4, so those pairs must have IDENTICAL fixed-point
    // ranks; degree-3 nodes outrank degree-2 nodes; total mass stays 1
    // up to the 1e-10-per-step quantization.
    val d = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L),
      (4L, 2L), (4L, 3L), (4L, 4L)))
    val r = graft.ops.GraphOps.pageRank(spark, d).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(2L) == r(3L), "automorphic nodes must tie exactly")
    assert(r(1L) == r(4L))
    assert(r(2L) > r(1L), "higher-degree nodes accumulate more rank")
    assert(math.abs(r.values.sum - 1.0) < 1e-7)
  }

  test("staged bm25 probe equals the self-contained query row-for-row") {
    val rows = Seq(
      (0L, "spark stream spark stream filler"),
      (1L, "spark filler hash merge sort window"),
      (2L, "customer vector window join stream"),
      (3L, "filler only text here now"))
    val d = docsDir(rows)
    val self = RetrievalOps.bm25Search(spark, d).collect().toSeq
    val staged = RetrievalOps.bm25Staged(spark, d).collect().toSeq
    assert(self == staged)
    assert(self.nonEmpty)
  }

  test("add-batch bm25 equals the self-contained full-corpus ranking") {
    // ids 7 and 17 fall in the mod-10 ingest batch; the staged index
    // must exclude them and the in-plan merge must restore them.
    val rows = Seq(
      (0L, "spark stream spark stream filler"),
      (7L, "spark filler hash merge sort window"),
      (12L, "customer vector window join stream"),
      (17L, "spark stream join hash merge sort"),
      (23L, "filler only text here now"))
    val d = docsDir(rows)
    val self = RetrievalOps.bm25Search(spark, d).collect().toSeq
    val merged = RetrievalOps.bm25AddBatch(spark, d).collect().toSeq
    assert(self == merged)
    assert(merged.exists(_.getLong(2) == 17L),
      "a batch doc must be rankable through the merged index")
  }

  test("rfm quintiles order by recency/frequency/monetary within nation") {
    // 5 customers, one nation, one order each on distinct days with
    // distinct totals: r_tile follows days-ago, m_tile follows totals.
    val d = ordersDir(Seq(
      (1L, 1L, 500.0, "2024-03-01"),
      (2L, 2L, 400.0, "2024-02-20"),
      (3L, 3L, 300.0, "2024-02-10"),
      (4L, 4L, 200.0, "2024-01-30"),
      (5L, 5L, 100.0, "2024-01-20")))
    val cdir = s"$d"
    (1L to 5L).map(ck => (ck, s"c$ck", 0, 0.0, "mkt"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$cdir/customer.parquet")
    val r = graft.ops.WindowQueries.rfmSegments(spark, cdir).collect()
      .map(x => x.getLong(0) -> (x.getLong(5), x.getLong(7))).toMap
    (1L to 5L).foreach { ck =>
      assert(r(ck) == ((ck, ck)),
        s"customer $ck must land in r/m quintile $ck")
    }
  }

  test("bfs profile counts hop rings from the busiest hub") {
    // Star-with-tail: hub 1 links 2,3,4; 4 links 5; 5 links 6; 7-8 are
    // a disconnected pair. Seed = part 1 (degree 3). Rings: d0={1},
    // d1={2,3,4}, d2={5}, d3={6}; 7,8 unreached (absent rows).
    val d = lineitemDir(Seq(
      (1L, 1L), (1L, 2L),
      (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 4L),
      (4L, 4L), (4L, 5L),
      (5L, 5L), (5L, 6L),
      (6L, 7L), (6L, 8L)))
    val r = graft.ops.GraphOps.bfsProfile(spark, d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(0L) == ((1L, 0.125)))
    assert(r(1L) == ((3L, 0.375)))
    assert(r(2L) == ((1L, 0.125)))
    assert(r(3L) == ((1L, 0.125)))
    assert(!r.contains(4L), "nothing is exactly 4 hops out")
  }

  test("centroid drift is zero when the snapshots coincide per label") {
    // Labels whose membership is untouched by the vec_id % 5 == 4
    // holdout must report drift 0; a label whose excluded member is an
    // outlier must report positive drift.
    val d = java.nio.file.Files.createTempDirectory("emb").toString
    val vecs = Seq(
      // label 0: ids 0,1,2 (none ≡ 4 mod 5) -> snapshots identical
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 0),
      (2L, Array(1.0f, 1.0f), 0),
      // label 1: id 9 (≡ 4 mod 5) is an outlier dropped from the old
      // snapshot -> the new centroid moves toward it
      (5L, Array(1.0f, 0.0f), 1),
      (6L, Array(1.0f, 0.0f), 1),
      (9L, Array(-5.0f, 0.0f), 1))
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val r = graft.llm.VectorOps.centroidDrift(spark, d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(0L) == ((3L, 3L, 0.0)))
    val (nOld1, nNew1, drift1) = r(1L)
    assert((nOld1, nNew1) == ((2L, 3L)))
    assert(drift1 == 2.0, "centroid x moves 1.0 -> -1.0: drift 2")
  }

  test("disorder profile buckets per-key lateness against the running max") {
    val d = java.nio.file.Files.createTempDirectory("dis").toString
    def ns(sec: Long): Long = sec * 1000000000L
    // user 1 arrival order (event_id): on-time, on-time, 10s late,
    // 2h late, 120s late.
    val ev = Seq(
      (1L, ns(1000), 1L, "view"),
      (2L, ns(2000), 1L, "view"),
      (3L, ns(1990), 1L, "view"),
      (4L, ns(2000 - 7200), 1L, "view"),
      (5L, ns(2000 - 120), 1L, "view"))
    TestFixtures.writeEvents(spark, d,
      ev.map { case (id, t, u, ty) => (id, t, u, ty, 1.0, "{}") })
    val r = graft.streaming.StreamOps.disorderProfile(spark, d).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toMap
    assert(r("0_ontime") == ((2L, 0L, 0.4)))
    assert(r("1_under_1m") == ((1L, 10000000L, 0.2)))
    assert(r("2_under_1h") == ((1L, 120000000L, 0.2)))
    assert(r("3_over_1h") == ((1L, 7200000000L, 0.2)))
  }

  test("association rules: exact support/confidence/lift, min-support prunes") {
    // orders: {A,B}, {A,B}, {A,C}, {B} → N=4, supp A=3 B=3 C=1;
    // pair (A,B) supp 2 survives; (A,C) supp 1 is pruned.
    val d = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L), (4L, 2L)))
    val r = GraphOps.associationRules(spark, d).collect()
    assert(r.length == 1, "only the supp>=2 pair survives")
    val row = r.head
    assert((row.getLong(0), row.getLong(1)) == ((1L, 2L)))
    assert(row.getLong(2) == 2L && row.getLong(3) == 3L && row.getLong(4) == 3L)
    assert(math.abs(row.getDouble(5) - 2.0 / 3) < 1e-6)
    assert(math.abs(row.getDouble(6) - 2.0 / 3) < 1e-6)
    assert(math.abs(row.getDouble(7) - 8.0 / 9) < 1e-6, "lift = N·ab/(a·b)")
  }

  test("hard negatives drop near-dups of the positive, keep true negatives") {
    val base = "spark stream join alpha beta gamma delta epsilon"
    // doc 2 is an exact copy of the positive — BM25 ranks it high, but
    // it is a FALSE negative and must be excluded; doc 3 is a genuine
    // weaker match and must survive.
    val d = docsDir(Seq(
      (1L, base), (2L, base),
      (3L, "spark unrelated words entirely different here now"),
      (4L, "nothing relevant at all in this one"),
      (5L, "also nothing relevant here either")))
    val r = RetrievalOps.hardNegatives(spark, d).collect()
      .filter(_.getLong(0) == 1L)
    assert(r.nonEmpty)
    assert(r.forall(_.getLong(1) == 1L), "positive is the tie-broken top doc")
    val negs = r.map(_.getLong(2)).toSet
    assert(!negs.contains(2L), "the positive's dup is a false negative")
    assert(negs.contains(3L), "a genuine weaker match survives as a negative")
  }

  test("hits authority ranks the part in every basket first, at exactly 1.0") {
    // part 1 in all 3 orders, part 2 in two, part 3 in one → authority
    // strictly ordered 1 > 2 > 3; max-normalization pins the top at 1.0.
    val d = lineitemDir(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (3L, 1L)))
    val r = GraphOps.hitsRanking(spark, d).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(r.head.getDouble(2) == 1.0, "max-normalized top authority is exact")
    assert(r(1).getDouble(2) > r(2).getDouble(2))
    assert(r.map(_.getLong(1)).toSeq == Seq(3L, 2L, 1L), "n_orders per part")
  }

  test("degree profile bands by 25 with exact cumulative shares") {
    // one 26-part order → each of those parts has degree 25 (band 25);
    // an isolated 2-part order → two degree-1 parts (band 0).
    val d = lineitemDir(
      (1L to 26L).map(p => (1L, p)) ++ Seq((100L, 50L), (100L, 51L)))
    val r = GraphOps.degreeProfile(spark, d).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4),
          x.getDouble(5)))).toMap
    assert(r.keySet == Set(0L, 25L))
    assert(r(0L) == ((2L, 1L, 1L, 0.071429, 0.071429)))
    assert(r(25L) == ((26L, 25L, 25L, 0.928571, 1.0)))
  }

  test("hybrid rrf: agreement on both lists wins, formula recomputes from ranks") {
    val d = java.nio.file.Files.createTempDirectory("rrf").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    // doc 5: exact text copy of probe 0 AND identical embedding → rank 1
    // on both lists → rrf 2/61, the unbeatable top.
    // doc 6: same embedding direction but alien text → semantic-only.
    // doc 7: same text but orthogonal embedding → lexical-only.
    val texts = Seq(
      (0L, base), (1L, "one two three four five"), (2L, "ein zwei drei vier"),
      (5L, base), (6L, "completely different words here now"), (7L, base))
    texts.map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val e0 = Seq(1f, 0f, 0f, 0f)
    val eOrth = Seq(0f, 1f, 0f, 0f)
    Seq((0L, e0, 0), (1L, eOrth, 0), (2L, Seq(0f, 0f, 1f, 0f), 0),
        (5L, e0, 0), (6L, Seq(1f, 0.01f, 0f, 0f), 0), (7L, eOrth, 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = RetrievalOps.hybridRrf(spark, d).collect()
      .filter(_.getLong(0) == 0L)
    val top = rows.find(_.getLong(5) == 1L).get
    assert(top.getLong(1) == 5L, "both-lists agreement must fuse to the top")
    assert(top.getLong(2) == 1L && top.getLong(3) == 1L)
    rows.foreach { r =>
      val (rs, rl, rrf) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      val want = (if (rs > 0) 1.0 / (60 + rs) else 0.0) +
        (if (rl > 0) 1.0 / (60 + rl) else 0.0)
      assert(math.abs(rrf - want) < 1e-6, s"rrf formula at doc ${r.getLong(1)}")
      assert(rs != -1L || rl != -1L, "a fused row must come from some list")
    }
    // doc 6 semantic-only: present with r_lex = -1; doc 7 lexical-only
    val byDoc = rows.map(r => r.getLong(1) -> r).toMap
    assert(byDoc(6L).getLong(3) == -1L && byDoc(6L).getLong(2) > 0)
    assert(byDoc(7L).getLong(2) > 0 || byDoc(7L).getLong(3) > 0)
  }

  test("q125-q134 execute at sf0.001") {
    Seq("q125_bm25_search", "q126_split_leakage", "q127_decayed_spend",
      "q128_triangle_counts", "q129_pagerank", "q130_bm25_staged",
      "q131_rfm_segments", "q132_bm25_add_batch",
      "q133_bfs_profile", "q134_centroid_drift").foreach { n =>
      assert(SparkEntry.queries(n)(spark, sfDir).collect() != null, n)
    }
  }

  // ---- staged probes: schema reuse and one-partition top-k tails ------

  test("a second construction of q57, q130 and q132 runs no staged-read job") {
    val qs = Seq("q57_ivf_topk", "q130_bm25_staged", "q132_bm25_add_batch")
    qs.foreach(q => SparkEntry.queries(q)(spark, sfDir))
    val again = qs.map(q =>
      q -> JobProbe.jobsStartedBy(spark)(SparkEntry.queries(q)(spark, sfDir))).toMap
    // q132 pins its ingest batch eagerly (Materialize.stable) by design;
    // none of its jobs may be a parquet schema inference
    assert(again("q57_ivf_topk").isEmpty && again("q130_bm25_staged").isEmpty &&
      !again("q132_bm25_add_batch").exists(_.startsWith("parquet at")), again)
  }

  /** The top-k and degree-profile tails as composed before their final
    * sorts moved into one partition: inferring staged reads, a range
    * `orderBy` after the rank window, and the degree profile's node
    * total as an aggregate cross-joined back. The reference forms the
    * production tails must equal row for row, in order. */
  private object Composed {
    def rankTop10(pairs: DataFrame): DataFrame = {
      import graft.functions.VectorFunctions.dot_product
      val sims = pairs.select(col("query_id"), col("vec_id"),
        round(dot_product(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4)
          .as("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      sims.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .orderBy("query_id", "rn")
    }

    def bm25Score(tf: DataFrame, dl: DataFrame, dfQ: DataFrame,
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
        .orderBy("query_id", "rank")
    }

    def degreeProfileOf(e: DataFrame): DataFrame = {
      val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val bands = deg
        .withColumn("band", floor(col("deg") / lit(25.0)).cast("long") * 25)
        .groupBy("band")
        .agg(count(lit(1)).as("n_parts"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      val tot = bands.agg(sum(col("n_parts")).as("n_nodes"))
      val wc = Window.orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bands.crossJoin(broadcast(tot))
        .withColumn("share",
          round(col("n_parts").cast("double") / col("n_nodes"), 6))
        .withColumn("cum_share",
          round(sum(col("n_parts")).over(wc).cast("double") / col("n_nodes"), 6))
        .select("band", "n_parts", "min_deg", "max_deg", "share", "cum_share")
        .orderBy("band")
    }

    private def ivfTables = {
      val idx = IvfIndex.ensure(spark, sfDir)
      (spark.read.parquet(s"$idx/lists"), spark.read.parquet(s"$idx/centroids"))
    }

    def q57: DataFrame = {
      val (lists, centroids) = ivfTables
      val twins = lists.filter(col("vec_id") < 25)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("v"), col("norm"))
      val dist = graft.functions.VectorFunctions.l2sq_fd(col("v"), col("centroid"))
      val assigned = twins.crossJoin(broadcast(centroids))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(dist, col("cell"))))
        .filter(col("rk") === 1)
        .select("vec_id", "cell", "v", "norm")
      val merged = lists.select("vec_id", "cell", "v", "norm").unionByName(assigned)
      val q = lists.filter(col("vec_id") < 25)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("cell"), col("norm").as("qnorm"))
      rankTop10(merged.join(broadcast(q), Seq("cell"))
          .filter(col("vec_id") =!= col("query_id")))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id").as("nn_id"), col("sim"))
        .orderBy("query_id")
    }

    def ivfMultiProbe(nprobe: Int): DataFrame = {
      val (lists, centroids) = ivfTables
      val q = lists.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm").as("qnorm"))
      val dist = graft.functions.VectorFunctions.l2sq_fd(col("qv"), col("centroid"))
      val probed = q.crossJoin(broadcast(centroids))
        .withColumn("cell_rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(dist, col("cell"))))
        .filter(col("cell_rank") <= nprobe)
        .select(col("query_id"), col("qv"), col("qnorm"), col("cell"))
      rankTop10(lists.join(broadcast(probed), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id")))
    }

    private def queryTerms = RetrievalOps.QueryTerms.toDF("query_id", "term")

    def q125: DataFrame = {
      val tf = graft.Materialize.stable(
        graft.Tables.tSpread(spark, sfDir, "documents")
          .select(col("doc_id"),
            explode(graft.functions.Tokenize.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      val dfQ = dfT.join(broadcast(queryTerms.select("term").distinct()), Seq("term"))
      bm25Score(tf, dl, dfQ, stats, queryTerms)
    }

    def q130: DataFrame = {
      val idx = PostingIndex.ensure(spark, sfDir)
      val terms = RetrievalOps.QueryTerms.map(_._2).distinct
      val buckets = terms.map(PostingIndex.bucketOf).distinct
      val tf = spark.read.parquet(s"$idx/postings")
        .filter(col("pbucket").isin(buckets: _*) && col("term").isin(terms: _*))
        .select("doc_id", "term", "tf")
      val dfQ = spark.read.parquet(s"$idx/df").filter(col("term").isin(terms: _*))
      bm25Score(tf, spark.read.parquet(s"$idx/doclen"), dfQ,
        spark.read.parquet(s"$idx/stats"), queryTerms)
    }

    def q151: DataFrame = degreeProfileOf(GraphIndex.edges(spark, sfDir))

    def q194: DataFrame = {
      val inc = graft.Tables.t(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val isNewOrder = pmod(col("o"), lit(10)) === 7
      val base = GraphOps.edgesOf(inc.filter(!isNewOrder))
      val batch = GraphOps.edgesOf(inc.filter(isNewOrder))
      degreeProfileOf(base.unionByName(batch).dropDuplicates("u", "v"))
    }
  }

  test("staged top-k and degree tails equal their composed forms row for row, in order") {
    val pairs = Seq("q57_ivf_topk" -> Composed.q57, "q125_bm25_search" -> Composed.q125,
      "q130_bm25_staged" -> Composed.q130, "q151_degree_profile" -> Composed.q151,
      "q194_degree_add_batch" -> Composed.q194)
      .map { case (q, composed) => (q, SparkEntry.queries(q)(spark, sfDir), composed) } :+
      (("ivf multi-probe", VectorOps.ivfTopKMultiProbe(spark, sfDir, nprobe = 2),
        Composed.ivfMultiProbe(2)))
    val differ = pairs.collect {
      case (q, got, composed) if {
        val rows = got.collect()
        rows.isEmpty || !rows.sameElements(composed.collect())
      } => q
    }
    assert(differ.isEmpty, s"differ from the composed tail: $differ")
  }
}
