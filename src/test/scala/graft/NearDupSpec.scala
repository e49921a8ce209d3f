package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{NearDupOps, VectorOps}

/** Value-level verification of the probabilistic near-dup operators
  * against controlled fixtures (the DuckDB oracle covers only exact
  * Jaccard; MinHash/SimHash hash with xxhash64 which DuckDB lacks). */
class NearDupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  /** near-dup: one word changed at the end */
  private val nearDup = base.replace("tonight", "today")
  private val different =
    "spark executes distributed query plans with columnar parquet scans and hash joins"

  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString
    Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, nearDup, "en", "src0", nearDup.length.toLong),
      (2L, different, "en", "src1", different.length.toLong),
      (3L, base, "en", "src2", base.length.toLong) // exact copy of doc 0
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact copies collide in every band; jaccard 1.0") {
    val pairs = NearDupOps.minhashPairs(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 3L)) == 16, "identical docs must share all 16 bands")
    val jac = NearDupOps.ngramJaccard(spark, fixtureDir)
      .filter(col("doc_a") === 0 && col("doc_b") === 3)
      .select("jaccard").head.getDouble(0)
    assert(jac == 1.0)
  }

  test("near-duplicates are candidates; unrelated docs are not") {
    val pairs = NearDupOps.minhashPairs(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "one-word-changed doc must collide in ≥1 band")
    assert(!pairs.contains((0L, 2L)), "unrelated docs must not be candidates")
    assert(!pairs.contains((1L, 2L)))
  }

  test("minhash candidate set tracks exact jaccard ranking") {
    val jac = NearDupOps.ngramJaccard(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // the near-dup pair must have high but <1 similarity
    assert(jac((0L, 1L)) > 0.7 && jac((0L, 1L)) < 1.0)
    // unrelated pair shares no 3-grams → absent from join-based jaccard
    assert(!jac.contains((0L, 2L)))
  }

  test("simhash: identical docs equal, near-dups close, unrelated far") {
    val sh = NearDupOps.simhash(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(0L) == sh(3L))
    assert(hamming(sh(0L), sh(1L)) < hamming(sh(0L), sh(2L)),
      s"near-dup hamming ${hamming(sh(0L), sh(1L))} should be < unrelated ${hamming(sh(0L), sh(2L))}")
    assert(hamming(sh(0L), sh(1L)) <= 12)
  }

  test("cosine top-k is symmetric-sane and correctly ranked") {
    val topk = VectorOps.cosineTopK(spark, sfDir).collect()
    val byQuery = topk.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQuery.values.foreach { rows =>
      val sims = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.length == 10)
      assert(sims.sameElements(sims.sortBy(-(_: Double))), "ranks must follow sim desc")
    }
  }

  test("fused shingle_minhash equals signature over explicit shingles") {
    import graft.functions.HashKernels
    val docs = Tables.t(spark, sfDir, "documents").limit(100)
    val fused = docs.select(col("doc_id"),
      HashKernels.shingle_minhash(col("text"), 3, 32).as("sig"))
      .filter(col("sig").isNotNull)
    val composed = docs.select(col("doc_id"),
      NearDupOps.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), graft.functions.MinHashReference.minhash_signature(col("sh"), 32).as("sig"))
    val a = fused.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = composed.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
  }

  test("fused xxhash simhash equals composed simhash bit-for-bit") {
    // q45 itself is md5-keyed (oracle-checked); this pins the xxhash64
    // throughput kernel against its composed-builtin reference.
    val a = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.HashKernels.simhash64(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = ReferenceForms.simhashComposed(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("hashed-TF vectors: unit norm, deterministic, dup-doc recall") {
    import graft.functions.HashKernels.hashed_tf_vector
    import graft.functions.VectorFunctions.cosine_sim
    val docs = Tables.t(spark, sfDir, "documents").limit(50)
      .select(col("doc_id"), hashed_tf_vector(col("text"), 64).as("v"))
    val norms = docs.select(
      graft.functions.VectorFunctions.dot_product(col("v"), col("v")).as("n2"),
      size(col("v")).as("d")).collect()
    assert(norms.forall(_.getInt(1) == 64))
    assert(norms.forall(r => r.getDouble(0) == 0.0 || math.abs(r.getDouble(0) - 1.0) < 1e-6))
    // candidate stage: recall — exact copy AND one-word edit surface
    val cand = NearDupOps.docEmbedCandidates(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 3L)), "exact copies must be candidates")
    assert(cand.contains((0L, 1L)), "near-dup (one word changed) must be a candidate")
    // verify stage: precision — only the exact copy clears jaccard ≥ 0.9
    // (the one-word edit sits at 10/16 = 0.625: a candidate, not a dup)
    val pairs = NearDupOps.docEmbedNearDup(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(pairs((0L, 3L)) == 1.0, "exact copies at jaccard 1")
    assert(!pairs.contains((0L, 1L)), "one-word edit rejected by exact verify at 0.9")
    assert(!pairs.contains((0L, 2L)), "unrelated docs not near-dups")
  }

  test("minhash signature agreement estimates jaccard within sketch error") {
    import graft.functions.HashKernels.shingle_minhash
    // estimator: fraction of equal positions in two k=128 signatures
    // ≈ true Jaccard, stderr ≈ sqrt(J(1-J)/k) ≈ 0.04
    val k = 128
    val pairs = NearDupOps.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    val sigs = graft.Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), shingle_minhash(col("text"), 3, k).as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val checked = pairs.toSeq.filter(_._2 > 0.05).take(20)
    assert(checked.nonEmpty)
    checked.foreach { case ((a, b), jac) =>
      val est = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / k
      assert(math.abs(est - jac) < 0.15,
        s"pair ($a,$b): estimate $est vs exact $jac")
    }
  }

  test("winnowing fingerprints survive a prefix shift (rolling-hash property)") {
    import graft.functions.HashKernels.winnow_fingerprint
    import spark.implicits._
    val shifted = "NEW PREFIX WORDS HERE " + base
    val fps = Seq((0L, base), (1L, shifted), (2L, different))
      .toDF("doc_id", "text")
      .select(col("doc_id"), winnow_fingerprint(col("text"), 8, 16).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def overlap(a: Set[Long], b: Set[Long]) =
      a.intersect(b).size.toDouble / math.min(a.size, b.size)
    assert(overlap(fps(0L), fps(1L)) > 0.6,
      s"prefix-shifted doc must share most fingerprints, got ${overlap(fps(0L), fps(1L))}")
    assert(overlap(fps(0L), fps(2L)) < 0.2,
      "unrelated docs must share almost none")
  }

  test("dup clusters: transitive components, canonical survivor, sizes") {
    import graft.llm.NearDupOps
    // chain 0-1-2 (0~1 and 1~2 near-dup, 0~2 only transitively),
    // pair 10-11 exact dup, and 20 a singleton (no cluster membership)
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val d = java.nio.file.Files.createTempDirectory("clus").toString
    val docA = base
    val docB = base.replace("tok29", "tokX") // j(A,B) high
    val docC = docB.replace("tok0 ", "tokY ") // j(B,C) high, j(A,C) lower but still >= .8
    val other = (0 until 30).map(i => s"zzz$i").mkString(" ")
    Seq(
      (0L, docA), (1L, docB), (2L, docC),
      (10L, other), (11L, other),
      (20L, "completely different words here entirely unrelated to all"))
      .map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = NearDupOps.dupClusters(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // 0,1,2 form one component rooted at 0 (even if 0~2 was not a pair)
    assert(rows(0L) == ((0L, 3L, true)))
    assert(rows(1L) == ((0L, 3L, false)))
    assert(rows(2L) == ((0L, 3L, false)))
    // exact-dup pair clusters at its min id
    assert(rows(10L) == ((10L, 2L, true)))
    assert(rows(11L) == ((10L, 2L, false)))
    // singleton never appears (no verified pair involves it)
    assert(!rows.contains(20L))
  }

  test("saturated bands degrade to a star: a 150-doc dup cluster stays one cluster") {
    import graft.llm.NearDupOps
    val d = java.nio.file.Files.createTempDirectory("mega").toString
    val tx = (0 until 25).map(i => s"mega$i").mkString(" ")
    val rows = (0L until 150L).map(i => (i, tx, "en", "s", tx.length.toLong)) ++
      Seq((900L, "unrelated filler words entirely different content here", "en", "s", 50L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    // candidate stage must keep the cluster connected (hub star), not
    // drop the saturated bands outright
    val cand = NearDupOps.docEmbedCandidates(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert((1L until 150L).forall(i => cand.contains((0L, i))),
      "every member must be a candidate against the hub")
    // and cluster resolution merges all 150 into one cluster, keep = hub
    val clus = NearDupOps.dupClusters(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(clus.size == 150)
    assert(clus.forall { case (id, (cid, n, keep)) =>
      cid == 0L && n == 150L && keep == (id == 0L) })
  }

  test("dup clusters fail loudly when label propagation cannot converge") {
    import graft.llm.NearDupOps
    // a 10-doc chain of incremental edits: docs within distance 3 are
    // near-dups, so label 0 needs 3 propagation rounds to reach doc 9
    val base = (0 until 40).map(i => s"c$i").toVector
    val d = java.nio.file.Files.createTempDirectory("chain").toString
    (0 until 10).map { i =>
      val tx = (base.drop(i) ++ (0 until i).map(j => s"x$j")).mkString(" ")
      (i.toLong, tx, "en", "s", tx.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val e = intercept[IllegalStateException] {
      NearDupOps.dupClusters(spark, d, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with the default cap the same corpus resolves to one cluster
    val ok = NearDupOps.dupClusters(spark, d).collect()
    assert(ok.map(_.getLong(1)).distinct.sameElements(Array(0L)))
  }

  test("canonical selection keeps the longest cluster member, not the min id") {
    import graft.llm.NearDupOps
    val d = java.nio.file.Files.createTempDirectory("canon").toString
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val longer = base + " extra trailing words appended here"
    Seq((0L, base), (1L, longer), (10L, "unrelated different content entirely separate words"))
      .map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = NearDupOps.canonicalSelection(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(4)))).toMap
    // 0 and 1 cluster together (j >= 0.8); the LONGER doc 1 is kept even
    // though the cluster id is the min id 0
    assert(rows(0L) == ((0L, false)))
    assert(rows(1L) == ((0L, true)))
    assert(!rows.contains(10L), "unclustered doc has no canonical row")
  }

  test("incremental near-dup is directional and excludes same-side pairs") {
    import graft.llm.NearDupOps
    val d = java.nio.file.Files.createTempDirectory("incr").toString
    val a = (0 until 30).map(i => s"a$i").mkString(" ")
    val b = (0 until 30).map(i => s"b$i").mkString(" ")
    val c = (0 until 30).map(i => s"c$i").mkString(" ")
    Seq(
      (3L, a),                          // old
      (7L, a),                          // new: exact copy of old 3
      (4L, b),                          // old
      (17L, b.replace("b29", "bX")),    // new: near-dup of old 4
      (5L, c), (6L, c),                 // both old: excluded
      (27L, "z " + a.replace("a0 ", "")) // new-ish? id 27 % 10 = 7 → new; unrelated enough? guard below
    ).map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = NearDupOps.incrementalNearDup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(rows((7L, 3L)) == 1.0, "cross-boundary exact copy at jaccard 1")
    assert(rows.contains((17L, 4L)), "cross-boundary near-dup found")
    assert(rows((17L, 4L)) >= 0.8 && rows((17L, 4L)) < 1.0)
    assert(!rows.exists { case ((n, o), _) => n % 10 != 7 || o % 10 == 7 },
      "every pair must be (new, old) directed")
    assert(!rows.contains((5L, 6L)) && !rows.contains((6L, 5L)),
      "same-side (old, old) pairs are not incremental hits")
  }

  test("shingling guards short documents") {
    val df = Seq((0L, "one two"), (1L, ""), (2L, "a b c d"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), NearDupOps.shingles(col("text"), 3).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(0L).isEmpty)
    assert(m(1L).isEmpty)
    assert(m(2L) == Seq("a b c", "b c d"))
  }

  test("fused shingle_array is set-equal to composed shingles (+ short-doc guard)") {
    import graft.functions.HashKernels.shingle_array
    val both = Tables.t(spark, sfDir, "documents").limit(200)
      .select(
        NearDupOps.shingles(col("text"), 3).as("composed"),
        shingle_array(col("text"), 3).as("fused"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0).toSet == r.getSeq[String](1).toSet)
    }
    val guard = Seq((0L, "one two"), (1L, ""))
      .toDF("doc_id", "text")
      .select(shingle_array(col("text"), 3).as("sh"))
      .collect()
    assert(guard.forall(_.getSeq[String](0).isEmpty))
  }

  test("shingle_tf_vector: unit norm, word order sensitivity, null guard") {
    import graft.functions.HashKernels.shingle_tf_vector
    import graft.functions.VectorFunctions.{cosine_sim, dot_product}
    val docs = Tables.t(spark, sfDir, "documents").limit(100)
      .select(col("doc_id"), shingle_tf_vector(col("text"), 3, 256).as("v"))
      .filter(col("v").isNotNull)
    val norms = docs
      .select(dot_product(col("v"), col("v")).as("n2"), size(col("v")).as("d"))
      .collect()
    assert(norms.forall(_.getInt(1) == 256))
    assert(norms.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-6))
    // word order changes the 3-gram features even when the vocab is
    // identical — the property unigram TF lacks (its clusters saturated
    // the LSH buckets on this corpus)
    val pair = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "theta eta zeta epsilon delta gamma beta alpha"))
      .toDF("doc_id", "text")
      .select(shingle_tf_vector(col("text"), 3, 256).as("v"))
      .collect().map(_.getSeq[Float](0))
    val a = pair(0).toArray; val b = pair(1).toArray
    val cos = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    assert(cos < 0.5, s"reversed word order must not look like a near-dup (cos=$cos)")
    // too short to shingle -> null
    val short = Seq((0L, "one two")).toDF("doc_id", "text")
      .select(shingle_tf_vector(col("text"), 3, 256).as("v")).collect()
    assert(short.head.isNullAt(0))
  }

  test("fused sampled_gram_digests equals the composed md5(substr) form") {
    import graft.functions.HashKernels.sampled_gram_digests
    // The composed twin of the kernel — the exact algebra the DuckDB
    // oracle runs, expressed in Spark built-ins.
    def composed(t: org.apache.spark.sql.Column) =
      when(length(t) >= 40, array_sort(array_distinct(filter(
        transform(sequence(lit(1), length(t) - 39),
          i => md5(t.substr(i, lit(40)))),
        d => d.substr(lit(1), lit(1)) === "0"))))
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((9001L, base), (9002L, "short text")).toDF("doc_id", "text"))
    val rows = docs.select(
        sampled_gram_digests(col("text"), 40).as("k"),
        composed(col("text")).as("c"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) assert(r.isNullAt(0) == r.isNullAt(1))
      else assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("substring overlap pairs docs sharing a long verbatim run, collapsed over exact dups") {
    import graft.llm.NearDupOps
    val run = (1 to 60).map(i => f"token$i%02d").mkString(" ") // ~400 shared chars
    val a = s"unique prefix alpha $run unique suffix omega"
    val b = s"completely different opening words here $run and another different close"
    val c = "no shared material at all in this document body of ordinary prose length"
    val dir = java.nio.file.Files.createTempDirectory("subover").toString
    Seq((10L, a), (20L, b), (30L, c), (40L, a)) // 40 = exact clone of 10
      .map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = NearDupOps.substringOverlap(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 20L)),
      s"expected exactly the planted overlap pair over reps, got $got")
    val full = NearDupOps.substringOverlap(spark, dir).collect()
    full.foreach { r =>
      assert(r.getLong(2) >= 2 && r.getLong(0) < r.getLong(1))
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("edit-distance verify computes exact normalized levenshtein over given pairs") {
    import graft.llm.NearDupOps
    val docs = Seq(
      (0L, "aaaa"), (1L, "aaab"),           // dist 1, max 4 → sim 0.75
      (2L, "kitten"), (3L, "sitting"),      // dist 3, max 7 → 1-3/7 = 0.5714
      (4L, "zzzz"))
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (2L, 3L), (0L, 4L)).toDF("id_a", "id_b")
    val got = NearDupOps.editVerify(docs, pairs, minSim = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSeq
    assert(got == Seq((0L, 1L, 1L, 0.75), (0L, 4L, 4L, 0.0), (2L, 3L, 3L, 0.5714)))
    // threshold drops the dissimilar pair
    assert(NearDupOps.editVerify(docs, pairs, minSim = 0.5).count() == 2)
  }

  test("edit near-dup finds the planted in-block pair and respects blocking") {
    import graft.llm.NearDupOps
    val tx = (1 to 40).map(i => f"word$i%02d").mkString(" ") // 279 chars
    val txEdited = tx.replace("word07", "wort07").replace("word33", "ward33")
    val dir = java.nio.file.Files.createTempDirectory("editnd").toString
    Seq(
      (0L, tx, "en", "src0", tx.length.toLong),
      (1L, txEdited, "en", "src0", txEdited.length.toLong), // same block → found
      (2L, tx, "en", "src1", tx.length.toLong),             // other source → never paired
      (3L, "tiny doc", "en", "src0", 8L))                   // other length bucket
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = NearDupOps.editNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(rows.map(t => (t._1, t._2)).toSet == Set((0L, 1L)),
      s"blocking must admit only the same-(source,lang,bucket) pair, got ${rows.toSeq}")
    val (_, _, dist, sim) = rows.head
    assert(dist == 2L, "two single-char edits → levenshtein 2")
    assert(sim == math.floor((1.0 - 2.0 / tx.length) * 10000 + 0.5) / 10000)
  }

  test("edit verify composes with band-index candidates (production candidate source)") {
    import graft.llm.NearDupOps
    // candidates from the exact-Jaccard brute pairs stand in for any
    // LSH/blocking generator: editVerify only contracts on (id_a, id_b)
    val cand = ReferenceForms.exactNearDupBrute(spark, sfDir, minJaccard = 0.5)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    val docs = Tables.t(spark, sfDir, "documents")
    val out = NearDupOps.editVerify(docs, cand, minSim = 0.0).collect()
    assert(out.length == cand.count(),
      "verify must score every candidate pair exactly once")
    out.foreach { r =>
      val (dist, maxLen, sim) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert((dist == 0L) == (sim == 1.0),
        "sim 1.0 iff zero edit distance")
      assert(dist <= maxLen && sim >= 0.0 && sim <= 1.0)
    }
  }

  test("substring overlap is non-vacuous and invariant-clean on fixtures") {
    import graft.llm.NearDupOps
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val rows = NearDupOps.substringOverlap(spark, dir).collect()
      assert(rows.nonEmpty, s"q85@$dir vacuous")
      rows.foreach { r =>
        assert(r.getLong(0) < r.getLong(1), "pairs must be ordered doc_a < doc_b")
        assert(r.getLong(2) >= 2, "threshold n_shared >= 2 violated")
        assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)),
          "shared grams cannot exceed either side's sampled-gram count")
      }
    }
  }
}
