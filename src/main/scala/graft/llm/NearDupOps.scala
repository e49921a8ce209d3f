package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Near-duplicate detection for document corpora (SURVEY.md §2.9):
  * word-shingling, exact n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale architecture (the MinHash/LSH path is the 100 TB workhorse):
  *   1. per-row shingling + signature computation — narrow, no shuffle,
  *      all codegen'd array expressions over xxhash64;
  *   2. explode only the B band keys per document (not the shingles) —
  *      the shuffle volume is B rows/doc of (16-byte key, id), never the
  *      document text;
  *   3. groupBy band key → candidate pairs within buckets only.
  * Exact Jaccard is kept for verification on bounded slices; it is the
  * oracle for the probabilistic paths, not the production path.
  */
object NearDupOps {

  /** Non-empty whitespace tokens — the shared rule (functions.Tokenize). */
  private def toks(c: Column): Column = graft.functions.Tokenize.tokens(c)

  /** Distinct word n-gram shingles (1-based element_at; guarded so short
    * docs yield an empty array rather than a descending sequence). */
  def shingles(c: Column, n: Int): Column = {
    val tk = toks(c)
    val idx = sequence(lit(1), size(tk) - (n - 1))
    array_distinct(
      when(size(tk) < n, array().cast("array<string>"))
        .otherwise(transform(idx, i =>
          concat_ws(" ", (0 until n).map(j => element_at(tk, i + j)): _*))))
  }

  /** LSH band digests: the k-length signature split into `bands`
    * slices, each digested to ONE long — xxhash64 over (band index,
    * slice values). Docs sharing any band digest are candidates.
    *
    * Fused (optimization r18, VERDICT item 4): the previous form
    * rendered each band as a "b_v1,v2,…" STRING through an interpreted
    * `transform` lambda (16 lambda evaluations + 16 ~90-char string
    * builds per doc) and hashed the strings. `bands` and `rows` are
    * plan-time constants, so the array can be built STATICALLY — a
    * codegen'd CreateArray of xxhash64 calls straight over the
    * signature longs, no lambda, no strings. A digest collision between
    * different band contents can only ADD a candidate pair, and every
    * candidate is exact-verified downstream, so the emitted result set
    * is unchanged (same argument the hashed-string form already made);
    * equal band contents hash equal under any deterministic hash.
    * Digest VALUES differ from the string form — BandIndex layout
    * version bumped so a pre-fusion index can never serve a post-fusion
    * probe. */
  def bandHashes(sig: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    array((0 until bands).map(b =>
      xxhash64(lit(b) +:
        (0 until rows).map(j => element_at(sig, b * rows + 1 + j)): _*)): _*)
  }

  /** Saturated-band guard bound: a band with more members than this
    * degrades to a star (see [[bandCandidates]]). */
  private[graft] val SaturatedBand = 100

  /** Star width inside a saturated band: members pair against the
    * `StarHubs` smallest doc ids instead of a single hub. One hub keeps
    * a dense cluster connected; several hubs additionally survive the
    * non-transitive case where a member's Jaccard to one particular hub
    * dips below the verify threshold while its similarity to the
    * cluster is real — any of the 8 hubs clearing the bar keeps the
    * member attached. O(8·size) candidates, still linear. */
  private[graft] val StarHubs = 8

  /** Exact-duplicate collapse (the pass that runs BEFORE any banding):
    * every doc is tagged with the min doc_id among its exact content
    * twins (`rep_id`) — the same cost shape as the exact-dedup pass
    * (q35), which this subsumes. md5, not a 64-bit hash: a digest
    * collision here would silently merge distinct docs into a fake
    * jaccard-1 pair.
    *
    * Why collapse first: identical docs share EVERY band key, so a
    * large identical cluster saturates all its bands and any in-band
    * guard then truncates the pair listing (the round-2 star guard made
    * q43/q49 a strict subset of the brute-force oracle whenever a >100
    * identical cluster existed). Collapsed, that cluster is ONE
    * representative in the banding pipeline, and its member pairs are
    * reconstructed exactly ([[expandCollapsed]]) — candidate generation
    * stays subquadratic while the emitted pair set equals brute force. */
  private def keyedDocs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.tSpread(s, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("digest"))

  /** Non-representative exact-dup members of an arbitrary
    * (doc_id, digest) frame: (rep_id, doc_id), rep_id < doc_id by
    * construction. Built against multi-member groups ONLY: one shuffle
    * of (16-byte digest, id) pairs with map-side partial aggregation —
    * text never rides it — and the group side is proportional to the
    * dup rate, not the corpus: empty for a dup-free corpus, so AQE
    * broadcasts it and the corpus is not reshuffled (the first
    * formulation joined the full member table and doubled the
    * dup-sparse 50k-doc soak point). Shared with [[BandIndex.build]] so
    * the staged and online collapse are one definition. */
  private[llm] def dupMembersOf(keyed: DataFrame): DataFrame =
    keyed
      .join(keyed
          .groupBy("digest")
          .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .select("digest", "rep_id"),
        Seq("digest"))
      .filter(col("doc_id") =!= col("rep_id"))
      .select("rep_id", "doc_id")

  /** Whole-corpus dup members, materialized once per query. Every
    * consumer — rep anti-join, cross-pair expansion branches, intra
    * pairs, batch flags — references this frame, and without the
    * checkpoint each union branch would re-run the corpus scan + digest
    * shuffle that produced it (~6 recomputes in the expansion paths,
    * measured +1–2 s per query at sf0.1). The frame itself is tiny (one
    * row per non-representative exact dup), so the materialization cost
    * is the one collapse pass. Used by the SELF-CONTAINED paths (q76
    * and the diagnostics); the staged family reads the same frame from
    * [[BandIndex]] via [[stagedCorpus]]. */
  private def collapsedDups(s: SparkSession, dir: String): DataFrame =
    graft.Materialize.stable(dupMembersOf(keyedDocs(s, dir)))

  /** The staged corpus tables ([[BandIndex]]) for one boundary:
    * collapse frame, distinct-text digest directory, and precomputed
    * MinHash band table. Reading these is a metadata-cheap parquet scan
    * of narrow id/digest tables — the whole-corpus near-dup family
    * (q43/q49/q62/q65/q75/q85) shares ONE staged collapse + banding per
    * corpus version instead of recomputing both per query. */
  private final case class StagedCorpus(s: SparkSession, idx: String) {
    def digests: DataFrame = s.read.parquet(s"$idx/digests")
    def dups: DataFrame = s.read.parquet(s"$idx/dups")
    def bands: DataFrame = s.read.parquet(s"$idx/bands")
    /** Packed TF-hyperplane probe codes per shingleable rep — the
      * staged side of the doc-embed path (q49); its band explosion is
      * derived in-plan by the probe. */
    def tfcodes: DataFrame = s.read.parquet(s"$idx/tfcodes")
    /** (rep_id, n_sh) for multi-member groups whose text shingles —
      * the stat every intra-group jaccard-1 pair carries. Derived from
      * the staged digest directory (n_sh > 0 ⇔ ≥ 3 tokens, the
      * oracle's nonempty rule) — no corpus re-scan. */
    def dupRepShingleSize: DataFrame =
      digests
        .join(dups.select("rep_id").distinct(), Seq("rep_id"), "left_semi")
        .filter(col("n_sh") > 0)
        .select("rep_id", "n_sh")
  }

  private def stagedCorpus(s: SparkSession, dir: String,
      boundary: BandIndex.Boundary = BandIndex.Boundary.all): StagedCorpus =
    StagedCorpus(s, BandIndex.ensure(s, dir, boundary))

  /** Representatives with text: anti-join against the (small) dup-member
    * set — the text column stays where the scan put it. */
  private def repDocs(s: SparkSession, dir: String, dups: DataFrame): DataFrame =
    graft.Tables.tSpread(s, dir, "documents")
      .join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "text")

  /** Shingle-set size for each multi-member group's representative
    * (groups too short to shingle excluded — the oracle's nonempty
    * rule): the stat every intra-group jaccard-1 pair carries. */
  private def dupRepShingleSize(s: SparkSession, dir: String,
      dups: DataFrame): DataFrame =
    graft.Tables.t(s, dir, "documents")
      .join(dups.select(col("rep_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .filter(size(toks(col("text"))) >= 3)
      .select(col("doc_id").as("rep_id"),
        size(graft.functions.HashKernels.shingle_array(col("text"), 3))
          .cast("long").as("n_sh"))

  /** Per-doc exploded LSH band digests for the MinHash path (k hashes
    * in `bands` bands) — shared by the diagnostic pair view and the
    * verified near-dup query. The shuffle key is the fused
    * [[bandHashes]] long digest, never band text ("digests, never
    * text"): at the 5M-doc soak point rendered string keys alone were
    * ~5× the shuffle payload. A digest collision between different
    * bands can only ADD a candidate pair, and every candidate is
    * exact-verified downstream, so correctness is unaffected. */
  private def mhBandedOf(docs: DataFrame, k: Int, bands: Int): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.HashKernels.shingle_minhash(col("text"), 3, k).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"),
        explode(bandHashes(col("sig"), k, bands)).as("band"))

  private def mhBanded(s: SparkSession, dir: String, k: Int, bands: Int): DataFrame =
    mhBandedOf(graft.Tables.tSpread(s, dir, "documents"), k, bands)

  /** The standard banding (k=64, 16 bands) over an arbitrary (doc_id,
    * text) frame — exposed to [[BandIndex]] so the staged index and the
    * online probe share one banding definition by construction. */
  private[graft] def mhBandedFor(docs: DataFrame): DataFrame =
    mhBandedOf(docs, 64, 16)

  /** Within-band candidate pairs with the saturated-band guard: bands
    * with more than [[SaturatedBand]] members degrade to a star on the
    * [[StarHubs]] smallest doc ids — O(8·size) candidates instead of
    * O(size²). Post-collapse, a saturated band means >100 DISTINCT
    * texts share a band digest; [[saturatedBands]] makes that state
    * observable and the differential gate asserts it does not occur on
    * the shipped fixtures (where it could truncate the pair listing).
    * Both window stats share the band partitioning with the self-join,
    * so the exchange is planned once and reused. */
  private def bandCandidates(banded: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"))
    guardedBandPairs(banded
      .withColumn("band_n", count(lit(1)).over(w))
      .withColumn("hub_rank",
        row_number().over(w.orderBy(col("doc_id"))))
      .filter(col("band_n") > 1))
  }

  /** The guard + self-join over (band, doc_id, band_n, hub_rank) rows —
    * shared between the live banding ([[bandCandidates]], which computes
    * the window stats in-plan) and the staged band table (where
    * [[BandIndex]] precomputed them offline). */
  private def guardedBandPairs(stats: DataFrame): DataFrame = {
    val a = stats
      .filter(col("band_n") <= SaturatedBand || col("hub_rank") <= StarHubs)
      .select(col("band"), col("doc_id").as("doc_a"))
    a.join(stats.select(col("band"), col("doc_id").as("doc_b")), Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Candidate pairs from the staged band table: the stats are already
    * in the index, so the probe is one band-keyed self-join. */
  private def bandCandidatesStaged(bands: DataFrame): DataFrame =
    guardedBandPairs(bands.filter(col("band_n") > 1))

  /** MinHash+LSH candidate pairs (k=64 hashes, 16 bands of 4): docs
    * whose signatures collide in ≥1 band, with the number of colliding
    * bands. 16 bands (not the textbook 8) because the verify threshold
    * sits AT 0.8: per-pair banding recall at Jaccard j is
    * 1−(1−j⁴)^bands — 0.985 at j=0.8 with 8 bands (a deterministic miss
    * on a boundary pair breaks the exact-oracle equality), 0.9998 with
    * 16. Deterministic (xxhash64) but engine-specific — this diagnostic
    * view is spec-checked (NearDupSpec) while the driver-facing query is
    * the exact-verified [[minhashNearDup]]. */
  def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = mhBanded(s, dir, 64, 16)
    val a = docs.select(col("doc_id").as("doc_a"), col("band"))
    val b = docs.select(col("doc_id").as("doc_b"), col("band"))
    a.join(b, Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact-verification tail shared by both candidate generators
    * (MinHash banding and hashed-TF hyperplane LSH): join each candidate
    * pair back to its 3-gram shingle sets, compute exact Jaccard, keep
    * pairs at/above `minJaccard`.
    *
    * This is the standard cheap-candidates/exact-verify dedup pipeline —
    * and it is what makes the probabilistic operators oracle-checkable:
    * the emitted set is a deterministic function of the input (exactly
    * the pairs whose true Jaccard clears the threshold) as long as the
    * candidate stage has full recall at that threshold, which the local
    * differential gate confirms at every fixture scale. At 100 TB the
    * verify join touches only candidate ids — shingle arrays are
    * shuffled for candidate docs only, never all-pairs. */
  private def rescoreExactJaccard(s: SparkSession, dir: String,
      cand: DataFrame, minJaccard: Double): DataFrame =
    rescoreExactJaccardOf(graft.Tables.tSpread(s, dir, "documents"),
      cand, minJaccard)

  /** The exact-verify tail over an ARBITRARY (doc_id, text) frame —
    * the dir form above delegates here; composed pipelines (q195's
    * fuzzy stage over paragraph-cleaned text) reuse it on a derived
    * corpus no staged index covers. */
  private def rescoreExactJaccardOf(docs: DataFrame,
      cand: DataFrame, minJaccard: Double): DataFrame = {
    // The non-empty guard is phrased on the token count (a doc shingles
    // iff it has ≥ 3 words), not on size(sh) — a size(sh) filter would
    // be pushed below the projection and evaluate the kernel twice per
    // row.
    val docSh = docs
      .filter(size(toks(col("text"))) >= 3)
      .select(col("doc_id"),
        graft.functions.HashKernels.shingle_array(col("text"), 3).as("sh"))
    cand
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_inter"),
        (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")).as("n_ab"))
      .withColumn("n_union", col("n_ab") - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")
  }

  /** Expand rep-level verified pairs back to the full member pair
    * listing of the uncollapsed corpus:
    *   - cross pairs: a verified (rep_a, rep_b) pair holds for every
    *     (member of a, member of b) combination — identical texts have
    *     identical shingle sets, so the stats carry over unchanged;
    *   - intra pairs: every pair inside an exact-dup group is a
    *     jaccard-1 pair (n_inter = n_union = the group's shingle-set
    *     size), except groups whose text is too short to shingle —
    *     those have no pairs under the brute-force contract (the
    *     oracle's `len(sh) > 0` rule).
    * The output is exactly the brute-force thresholded pair set; note
    * the pair LISTING of a large identical cluster is inherently
    * quadratic in output size (so is the oracle's) — cluster-level
    * dedup ([[dupClusters]]) is the linear-output production decision. */
  private val pairStats = Seq("n_inter", "n_union", "jaccard")

  /** All (member of A, member of B) combinations of each verified
    * (rep_a, rep_b) pair, stats carried over — identical texts have
    * identical shingle sets. Four branches against the SMALL dup-member
    * frame (verified itself covers rep×rep; dup substitutions cover the
    * rest), so a dup-free corpus adds three empty broadcast joins and
    * nothing else. Column names in the result: doc_a = member of A,
    * doc_b = member of B (NOT id-ordered — callers normalize or apply
    * direction semantics). */
  private def crossCombos(verifiedReps: DataFrame, dups: DataFrame): DataFrame = {
    val st = pairStats.map(col)
    val da = dups.select(col("rep_id").as("doc_a"), col("doc_id").as("da"))
    val db = dups.select(col("rep_id").as("doc_b"), col("doc_id").as("db"))
    val e1 = verifiedReps.join(da, Seq("doc_a"))
      .select(col("da").as("doc_a") +: col("doc_b") +: st: _*)
    val e2 = verifiedReps.join(db, Seq("doc_b"))
      .select(col("doc_a") +: col("db").as("doc_b") +: st: _*)
    val e3 = verifiedReps.join(da, Seq("doc_a")).join(db, Seq("doc_b"))
      .select(col("da").as("doc_a") +: col("db").as("doc_b") +: st: _*)
    verifiedReps.select((col("doc_a") +: col("doc_b") +: st): _*)
      .unionByName(e1).unionByName(e2).unionByName(e3)
  }

  /** All id-ordered pairs WITHIN each multi-member exact-dup group —
    * (rep, dup) rows directly (rep_id < doc_id by construction) plus a
    * dup-dup self-join on the small frame — each a jaccard-1 pair
    * carrying the group's shingle size. */
  private def intraPairs(dups: DataFrame, repSh: DataFrame): DataFrame = {
    val repDup = dups.join(repSh, Seq("rep_id"))
      .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"), col("n_sh"))
    val dupDup = dups.select(col("rep_id"), col("doc_id").as("doc_a"))
      .join(dups.select(col("rep_id"), col("doc_id").as("doc_b")), Seq("rep_id"))
      .filter(col("doc_a") < col("doc_b"))
      .join(repSh, Seq("rep_id"))
      .select(col("doc_a"), col("doc_b"), col("n_sh"))
    repDup.unionByName(dupDup)
      .select(col("doc_a"), col("doc_b"), col("n_sh").as("n_inter"),
        col("n_sh").as("n_union"), lit(1.0).as("jaccard"))
  }

  private def expandCollapsed(verifiedReps: DataFrame, dups: DataFrame,
      repSh: DataFrame): DataFrame = {
    val st = pairStats.map(col)
    val cross = crossCombos(verifiedReps, dups)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a") +:
        greatest(col("doc_a"), col("doc_b")).as("doc_b") +: st: _*)
    cross.unionByName(intraPairs(dups, repSh))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash-LSH near-duplicates, exact-verified: exact-dup collapse
    * ([[dupMembersOf]]/[[repDocs]]), banding over representatives (subquadratic —
    * shuffle volume is 16 band digests/rep), exact 3-gram Jaccard
    * re-scoring at ≥ 0.8, then member expansion. Fully oracle-checked
    * against brute-force DuckDB Jaccard: the emitted set equals the
    * brute-force thresholded set as long as rep-level candidate recall
    * is complete at the threshold, which the differential gate
    * (DifferentialGateSpec) re-verifies against brute force at every
    * fixture scale. */
  def minhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val sc = stagedCorpus(s, dir)
    val cand = bandCandidatesStaged(sc.bands)
    expandCollapsed(rescoreExactJaccard(s, dir, cand, 0.8),
      sc.dups, sc.dupRepShingleSize)
  }

  /** Non-canonical near-dup cluster members of an ARBITRARY (doc_id,
    * text) frame, as an ids-only drop list — the q43/q62 cascade
    * (band → exact-verify ≥ `minJaccard` → connected components →
    * min-id canonical) for composed pipelines whose corpus is DERIVED
    * (q195 fuzzy-dedups paragraph-cleaned text no staged index
    * covers). The caller has already collapsed exact duplicates, so
    * banding runs over distinct texts — the same pre-collapse
    * discipline the staged cascade gets from [[stagedCorpus]].
    * Text rides only the per-row kernel scans; bands, candidate
    * pairs, shingle-verify joins and components all shuffle
    * ids/digests. */
  private[llm] def fuzzyDropIds(docs: DataFrame,
      minJaccard: Double = 0.8): DataFrame = {
    val pairs = rescoreExactJaccardOf(docs,
        bandCandidates(mhBandedFor(docs)), minJaccard)
      .select("doc_a", "doc_b")
    Graphs.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
  }

  /** Near-dup cluster resolution — the step after pair detection in a
    * dedup pipeline: connected components over the verified pair graph,
    * labeling every involved doc with its cluster (= min doc_id in the
    * component) and marking the canonical survivor (`keep`). "Delete all
    * rows where keep = false" is then the actual dedup action.
    *
    * Algorithm: iterative min-label propagation (the Hash-to-Min /
    * small-star family — Rastogi et al., ICDE 2013): each round every
    * node takes the min label among itself and its neighbors; converges
    * in O(diameter) rounds (dup clusters are near-cliques, so 1–2), each
    * round one shuffle join + aggregate. `localCheckpoint` cuts the
    * growing lineage per round — the standard Spark iterative-algorithm
    * pattern. The fixed point (min id per component) is unique and
    * order-independent, so the output is deterministic and fully
    * oracle-checkable against a DuckDB recursive-CTE reachability
    * closure over the same verified pairs. */
  /** Memoized per (session, dir): the cluster frame is the shared input
    * of ~10 catalog queries (canonical selection, dup-rate reports,
    * leakage audits, effective budgets, cluster-aware splits, hard
    * negatives) — one label-propagation run per session serves all of
    * them (the SessionMemo rule). The explicit-maxRounds overload below
    * stays unmemoized for convergence tests. */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.materialized(s,
      "dupClusters:" + graft.SessionMemo.versionOf(s, dir, "documents")) {
      dupClusters(s, dir, maxRounds = 64)
    }

  def dupClusters(s: SparkSession, dir: String, maxRounds: Int): DataFrame = {
    // Connectivity needs O(edges) structure, not the full pair listing:
    // rep-level verified pairs plus one star edge per exact-dup group
    // member give the same connected components as the expanded cliques
    // (a clique and a star span the same vertex set) while staying
    // LINEAR in group size where the listing is quadratic. Short-text
    // groups (unshingleable) have no pairs under the contract, so their
    // star edges are filtered the same way the oracle's nonempty rule
    // filters them.
    val sc = stagedCorpus(s, dir)
    val cand = bandCandidatesStaged(sc.bands)
    val repPairs = rescoreExactJaccard(s, dir, cand, 0.8)
      .select("doc_a", "doc_b")
    val starEdges = sc.dups
      .join(sc.dupRepShingleSize.select("rep_id"), Seq("rep_id"), "left_semi")
      .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"))
    val pairs = repPairs.unionByName(starEdges)
    // Materialize the edge list once: every propagation round joins
    // against it, and without the checkpoint each round would re-run
    // the whole candidate+verify pipeline that produced the pairs.
    val edges = graft.Materialize.stable(pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst"))
    var labels = graft.Materialize.stable(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("label", col("doc_id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("nbr_min"))
      val next = graft.Materialize.stable(labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("next_label")))
      changed = next.filter(col("next_label") < col("label")).count()
      labels = next.select(col("doc_id"), col("next_label").as("label"))
      rounds += 1
    }
    // Converging silently wrong is worse than failing: a component with
    // diameter > maxRounds would otherwise split into several clusters
    // with several "canonical" survivors.
    if (changed > 0)
      throw new IllegalStateException(
        s"dupClusters: label propagation did not converge in $maxRounds rounds")
    val clusters = labels.select(col("doc_id"), col("label").as("cluster_id"))
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
    clusters.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_docs"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** Canonical selection by content, not by id: rank every clustered
    * doc within its dup cluster by token count (keep the longest — the
    * member most likely to be the superset version), tie-broken by
    * doc_id. "keep = min id" ([[dupClusters]]) is the arbitrary-but-
    * deterministic baseline; this is the policy a real curation
    * pipeline wants, expressed as one window over the cluster key. The
    * ranking key is an integer, so cross-engine ordering is exact. */
  def canonicalSelection(s: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(s, dir)
      .select("doc_id", "cluster_id", "n_docs")
    val lengths = t(s, dir, "documents")
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    clusters.join(lengths, Seq("doc_id"))
      .withColumn("keep_best", row_number().over(w) === 1)
      .select("doc_id", "cluster_id", "n_docs", "n_tokens", "keep_best")
      .orderBy("doc_id")
  }

  /** Incremental (batch-vs-corpus) near-dup: match an incoming batch
    * (fixture predicate: doc_id % 10 == 7) against the existing corpus
    * — the shape every continuously-ingesting pipeline runs, where the
    * question is directional: "which ALREADY-INGESTED doc does this new
    * doc duplicate?". Output is one row per (new_doc, old_doc) pair at
    * 3-gram Jaccard ≥ 0.8.
    *
    * Plan shape: the same collapse → band → guard → exact-verify
    * cascade as [[minhashNearDup]], with candidate pairs filtered to
    * cross-batch groups before the (expensive) verify join, and member
    * expansion emitting directed (new, old) rows — an exact-dup group
    * spanning the batch boundary yields its cross pairs at jaccard 1,
    * the most common incremental hit. At production scale the corpus
    * side's band table is a materialized staging output (the IvfIndex
    * pattern); only the new batch is banded per run. */
  /** The ingest-batch stand-in shared by q76 and the staged q84: docs
    * with id ≡ 7 mod 10 are "the incoming batch", the rest "the
    * existing corpus". In production this is a real batch table. */
  private[llm] def isNewDoc(c: Column): Column = pmod(c, lit(10)) === 7

  /** The staged-asset cache-key fragment describing [[isNewDoc]] —
    * defined NEXT TO the predicate so every index keyed on this
    * boundary (BandIndex/PostingIndex boundaries, SemDedupIndex,
    * MediaFpIndex) derives the fragment from here and a boundary
    * change cannot leave a stale cache key describing content it no
    * longer matches (ADVICE r12). */
  private[llm] val isNewDocKey = "batch=mod10eq7"

  def incrementalNearDup(s: SparkSession, dir: String): DataFrame =
    incrementalNearDup(s, dir, isNewDoc)

  /** [[incrementalNearDup]] with an explicit ingest boundary: `isNew`
    * marks the incoming-batch docs; everything else is the existing
    * corpus. Self-contained (no staged index) — this is the reference
    * twin the staged path is equivalence-checked against. */
  def incrementalNearDup(s: SparkSession, dir: String,
      isNew: Column => Column): DataFrame = {
    val dups = collapsedDups(s, dir)
    // ONE materialized rep frame serves banding, the verify join's
    // shingle side, and the intra-pair shingle sizes — previously each
    // leg re-ran its own corpus scan + dup anti-join (the q84-shared
    // frames the staged path reads from the index; VERDICT r14 item 8
    // measured the re-derivation at ~2 s of this query's floor). Fine
    // to pin here: q76 is the self-contained equivalence REFERENCE
    // (fixture-gate scale) — the production path is the staged q84,
    // which never materializes corpus text.
    val reps = graft.Materialize.stable(repDocs(s, dir, dups))
    // Group-level batch flags: a rep carries its own side plus any dup
    // member's side. Built from the rep set + the small dup frame — no
    // full-member shuffle.
    val dupFlags = dups.groupBy("rep_id").agg(
      max(when(isNew(col("doc_id")), 1).otherwise(0)).as("dup_new"),
      max(when(!isNew(col("doc_id")), 1).otherwise(0)).as("dup_old"))
    val flags = reps.select(col("doc_id").as("rep_id"),
        when(isNew(col("doc_id")), 1).otherwise(0).as("self_new"),
        when(!isNew(col("doc_id")), 1).otherwise(0).as("self_old"))
      .join(dupFlags, Seq("rep_id"), "left")
      .select(col("rep_id"),
        greatest(col("self_new"), coalesce(col("dup_new"), lit(0))).as("has_new"),
        greatest(col("self_old"), coalesce(col("dup_old"), lit(0))).as("has_old"))
    // Keep only candidates whose groups straddle the batch boundary in
    // SOME direction — the verify join never sees same-side pairs.
    // Pinned: the candidate frame feeds both the verify join and the
    // id restriction of its shingle side.
    val cand = graft.Materialize.stable(
      bandCandidates(mhBandedOf(reps, 64, 16))
        .join(flags.select(col("rep_id").as("doc_a"),
          col("has_new").as("a_new"), col("has_old").as("a_old")), Seq("doc_a"))
        .join(flags.select(col("rep_id").as("doc_b"),
          col("has_new").as("b_new"), col("has_old").as("b_old")), Seq("doc_b"))
        .filter((col("a_new") === 1 && col("b_old") === 1)
          || (col("b_new") === 1 && col("a_old") === 1))
        .select("doc_a", "doc_b"))
    // Shingle only the CANDIDATE reps (semi-join on the pinned pair
    // ids), not the whole rep frame — the kernel cost follows the
    // candidate count, the contract the staged path documents.
    val candReps = reps.join(
      cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct(),
      Seq("doc_id"), "left_semi")
    // The verified rep-pair frame is tiny (pairs over threshold) but
    // feeds crossCombos' four union branches times two directional
    // filters — unpinned, the whole band+verify cascade above re-runs
    // up to eight times (the other ~2 s of the r14 floor).
    val combos = crossCombos(graft.Materialize.stable(
      rescoreExactJaccardOf(candReps, cand, 0.8)), dups)
    val st = pairStats.map(col)
    val cross = combos
      .filter(isNew(col("doc_a")) && !isNew(col("doc_b")))
      .select(col("doc_a").as("new_doc") +: col("doc_b").as("old_doc") +: st: _*)
      .unionByName(combos
        .filter(isNew(col("doc_b")) && !isNew(col("doc_a")))
        .select(col("doc_b").as("new_doc") +: col("doc_a").as("old_doc") +: st: _*))
    // Exact-dup groups spanning the boundary: (new member, old member)
    // pairs at jaccard 1 — take the undirected intra pairs and keep
    // each in whichever direction crosses the boundary. Shingle sizes
    // ride the pinned rep frame, not a third corpus scan.
    val dupRepSh = graft.Materialize.stable(reps
      .join(dups.select(col("rep_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .filter(size(toks(col("text"))) >= 3)
      .select(col("doc_id").as("rep_id"),
        size(graft.functions.HashKernels.shingle_array(col("text"), 3))
          .cast("long").as("n_sh")))
    val intra = intraPairs(dups, dupRepSh)
    val intraDirected = intra
      .filter(isNew(col("doc_a")) && !isNew(col("doc_b")))
      .select(col("doc_a").as("new_doc") +: col("doc_b").as("old_doc") +: st: _*)
      .unionByName(intra
        .filter(isNew(col("doc_b")) && !isNew(col("doc_a")))
        .select(col("doc_b").as("new_doc") +: col("doc_a").as("old_doc") +: st: _*))
    cross.unionByName(intraDirected).orderBy("new_doc", "old_doc")
  }

  /** Incremental near-dup against the STAGED corpus band index
    * ([[BandIndex]]) — the production form of [[incrementalNearDup]]:
    * the corpus side (digest groups, collapse frame, band table) is
    * read from the offline index, so per-batch work is O(batch): digest
    * the batch, band only unmatched batch texts, join band keys against
    * the staged band table, exact-verify candidates, expand members.
    * Output is identical to q76 (same brute-force (new, old) ≥ 0.8
    * contract, same DuckDB oracle); the equivalence is additionally
    * pinned pair-for-pair by BandIndexSpec at two fixture scales.
    *
    * Probe anatomy (per batch, corpus touched only through the index
    * and the verify join):
    *   1. exact path — batch digests ⋈ staged digests: a hit is a
    *      jaccard-1 pair with every member of the matched group
    *      (identical text ⇒ identical shingle set; unshingleable
    *      groups emit nothing, the staged n_sh=0 rule);
    *   2. near path — unmatched batch texts collapse among themselves,
    *      their reps are banded (cost ∝ batch) and joined against the
    *      staged bands (saturated staged bands degrade to the
    *      precomputed [[StarHubs]] hubs — no corpus re-count at probe);
    *   3. reacquired path — an old group that just gained an exact twin
    *      from the batch inherits that twin's near-dup neighbors: its
    *      own staged bands are re-joined against the band table,
    *      restricted to the (small) set of matched reps;
    *   4. both candidate sets are exact-verified (3-gram Jaccard ≥ 0.8
    *      — shingles only ever computed for candidate docs), then
    *      expanded to directed (new_doc, old_doc) member pairs through
    *      the staged collapse frame and the batch collapse frame. */
  def incrementalNearDupStaged(s: SparkSession, dir: String): DataFrame =
    incrementalNearDupStaged(s, dir, BandIndex.Boundary.ingestMod10)

  /** [[incrementalNearDupStaged]] with an explicit ingest boundary —
    * the production signature: the staged index covers everything
    * outside `boundary`'s batch, and is keyed on the boundary identity,
    * so two batch definitions can never share (or poison) an index. */
  def incrementalNearDupStaged(s: SparkSession, dir: String,
      boundary: BandIndex.Boundary): DataFrame = {
    val st = pairStats.map(col)
    val sc = stagedCorpus(s, dir, boundary)
    val digests = sc.digests
    val oldDups = sc.dups
    val oldBands = sc.bands
    val batch = graft.Tables.tSpread(s, dir, "documents")
      .filter(boundary.isBatch(col("doc_id")))
      .select(col("doc_id"), col("text"), md5(col("text")).as("digest"))
    // 1. exact path: matched batch docs pair with every member of
    // their old group at jaccard 1 (rep + staged dup members).
    val matched = graft.Materialize.stable(batch.select("doc_id", "digest")
      .join(digests, Seq("digest"))
      .select(col("doc_id").as("new_doc"), col("rep_id"), col("n_sh")))
    val exactPairs = matched.filter(col("n_sh") > 0)
      .select(col("new_doc"), col("rep_id").as("old_doc"), col("n_sh"))
      .unionByName(matched.filter(col("n_sh") > 0)
        .join(oldDups, Seq("rep_id"))
        .select(col("new_doc"), col("doc_id").as("old_doc"), col("n_sh")))
      .select(col("new_doc"), col("old_doc"), col("n_sh").as("n_inter"),
        col("n_sh").as("n_union"), lit(1.0).as("jaccard"))
    // 2. near path: collapse the unmatched batch, band its reps only.
    val unmatched = batch
      .join(digests.select("digest"), Seq("digest"), "left_anti")
    val batchGroups = unmatched.select("doc_id", "digest")
      .groupBy("digest").agg(min(col("doc_id")).as("rep_id"))
    val batchDups = graft.Materialize.stable(unmatched.select("doc_id", "digest")
      .join(batchGroups, Seq("digest"))
      .filter(col("doc_id") =!= col("rep_id"))
      .select("rep_id", "doc_id"))
    val batchReps = unmatched
      .join(batchDups.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
    // Saturated staged bands degrade to their precomputed hubs, the
    // probe-side mirror of [[bandCandidates]]'s star guard.
    val guardedOld = oldBands
      .filter(col("band_n") <= SaturatedBand || col("hub_rank") <= StarHubs)
    val candNewOld = mhBandedFor(batchReps)
      .select(col("doc_id").as("doc_a"), col("band"))
      .join(guardedOld.select(col("doc_id").as("doc_b"), col("band")), Seq("band"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    // 3. reacquired path: matched old reps re-join their own staged
    // bands against the band table (left side restricted to the small
    // matched set, so the join touches only those reps' buckets).
    val gained = matched.select(col("rep_id").as("doc_id")).distinct()
    val candOldOld = oldBands
      .join(gained, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("band"))
      .join(guardedOld.select(col("doc_id").as("doc_b"), col("band")), Seq("band"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // 4. exact-verify + member expansion, directed (new, old).
    val verNO = rescoreExactJaccard(s, dir, candNewOld, 0.8)
    val verOO = rescoreExactJaccard(s, dir, candOldOld, 0.8)
    val newSideDup = batchDups
      .select(col("rep_id").as("doc_a"), col("doc_id").as("na"))
    val oldSideDup = oldDups
      .select(col("rep_id").as("doc_b"), col("doc_id").as("ob"))
    val noPairs = verNO.select((col("doc_a") +: col("doc_b") +: st): _*)
      .unionByName(verNO.join(newSideDup, Seq("doc_a"))
        .select(col("na").as("doc_a") +: col("doc_b") +: st: _*))
      .unionByName(verNO.join(oldSideDup, Seq("doc_b"))
        .select(col("doc_a") +: col("ob").as("doc_b") +: st: _*))
      .unionByName(verNO.join(newSideDup, Seq("doc_a")).join(oldSideDup, Seq("doc_b"))
        .select(col("na").as("doc_a") +: col("ob").as("doc_b") +: st: _*))
      .select(col("doc_a").as("new_doc") +: col("doc_b").as("old_doc") +: st: _*)
    // A verified old-old pair (a, b): a's gained batch twins pair with
    // b's old members, and vice versa (jaccard(gained twin, other
    // group) = jaccard(a, b) — identical text, identical shingles).
    val gainedNew = matched.select(col("rep_id"), col("new_doc"))
    def ooDirected(repA: String, repB: String): DataFrame = {
      val base = verOO
        .select(col(repA).as("rep_id") +: col(repB).as("old_rep") +: st: _*)
        .join(gainedNew, Seq("rep_id"))
      base
        .select(col("new_doc") +: col("old_rep").as("old_doc") +: st: _*)
        .unionByName(base
          .join(oldDups.select(col("rep_id").as("old_rep"),
            col("doc_id").as("ob")), Seq("old_rep"))
          .select(col("new_doc") +: col("ob").as("old_doc") +: st: _*))
    }
    exactPairs
      .unionByName(noPairs)
      .unionByName(ooDirected("doc_a", "doc_b"))
      .unionByName(ooDirected("doc_b", "doc_a"))
      .orderBy("new_doc", "old_doc")
  }

  /** Exact-dup ingest flags for an incoming batch against the STAGED
    * corpus digest directory — the gate a continuously-ingesting
    * pipeline applies before paying any near-dup work: a digest hit
    * means the doc is an exact duplicate of an already-ingested group,
    * and `rep_id` names that group's canonical doc (−1 when novel; the
    * sentinel keeps the column non-null so the cross-engine dtype is a
    * plain int64). Per batch this is ONE narrow lookup join — the probe
    * side carries (doc_id, 16-byte digest), the corpus side is the
    * staged digest table, no corpus re-scan and no state.
    *
    * The same projection + join runs UNCHANGED as a Structured
    * Streaming stream-static join (`readStream` the incoming docs,
    * [[flagAgainstDigests]] against [[BandIndex.digestTable]]) — the
    * streaming form is pinned stream ≡ batch in
    * StreamingIngestDedupSpec; this batch twin is the driver-facing,
    * DuckDB-oracle-checked query (q87). */
  def ingestDedupFlags(s: SparkSession, dir: String): DataFrame =
    ingestDedupFlags(s, dir, BandIndex.Boundary.ingestMod10)

  def ingestDedupFlags(s: SparkSession, dir: String,
      boundary: BandIndex.Boundary): DataFrame =
    flagAgainstDigests(
      graft.Tables.t(s, dir, "documents")
        .filter(boundary.isBatch(col("doc_id")))
        .select(col("doc_id"), md5(col("text")).as("digest")),
      BandIndex.digestTable(s, dir, boundary))
      .orderBy("doc_id")

  /** The shared core of batch and streaming ingest dedup: (doc_id,
    * digest) probe rows left-joined to a digest directory. No sort, no
    * state — legal as the stream side of a stream-static join. */
  def flagAgainstDigests(batch: DataFrame, digests: DataFrame): DataFrame =
    batch
      .join(digests.select("digest", "rep_id"), Seq("digest"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), lit(-1L)).as("rep_id"),
        col("rep_id").isNotNull.as("is_exact_dup"))

  /** Exact substring-overlap pairs over distinct texts — the
    * training-set substring-dedup signal of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" (ACL 2022), §4.1
    * (ExactSubstr), re-expressed as deterministic gram sampling so the
    * whole pipeline is hash-checkable against an ANSI-SQL oracle:
    *
    *   1. collapse exact dups (md5(text) → min-id rep) — clone
    *      clusters must not explode into C(n,2) gram-join rows; their
    *      pair listing is q35/q62's job;
    *   2. per rep, the deterministic 1/16 sample of char-40-gram MD5
    *      digests ([[graft.functions.HashKernels.sampled_gram_digests]]
    *      — md5-of-substring is computable bit-identically in SQL,
    *      unlike the Karp-Rabin winnowing stream of q54);
    *   3. drop boilerplate grams appearing in > 50 reps (the shared-
    *      header problem; bounds any gram's join fanout to C(50,2));
    *   4. digest self-join → pairs sharing ≥ 2 sampled grams, with
    *      per-doc sampled-gram counts and containment
    *      n_shared / min(n_a, n_b).
    *
    * Scale shape: the shuffle carries 16-byte digests at 1/16 gram
    * density (~1× corpus bytes — inherent to substring-level dedup;
    * suffix-array approaches pay the same linear factor), the
    * boilerplate cap bounds bucket fanout, and a shared substring of
    * length ≥ 40 + 16·k/ln(…) chars yields ≥ k expected shared sampled
    * grams, so long verbatim overlaps are caught with overwhelming
    * probability while the sample keeps the join sparse. */
  def substringOverlap(s: SparkSession, dir: String): DataFrame = {
    val K = 40; val Boiler = 50; val MinShared = 2
    val dups = stagedCorpus(s, dir).dups
    // Exploded (rep, gram-digest) frame, materialized once: the
    // boilerplate count, both join sides, and the per-doc sizes all
    // reuse it (4 consumers — without the checkpoint each re-runs the
    // scan + kernel). ~1/16 of corpus chars as 32-hex strings: small.
    // The collapse frame itself comes from the staged corpus index.
    val g = graft.Materialize.stable(repDocs(s, dir, dups)
      .select(col("doc_id"),
        explode(graft.functions.HashKernels.sampled_gram_digests(col("text"), K))
          .as("gram")))
    val keep = g.join(
      g.groupBy("gram").agg(count(lit(1)).as("nd"))
        .filter(col("nd") <= Boiler).select("gram"),
      Seq("gram"), "left_semi")
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    keep.select(col("doc_id").as("doc_a"), col("gram"))
      .join(keep.select(col("doc_id").as("doc_b"), col("gram")), Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact word-3-gram Jaccard similarity over a bounded slice
    * (doc_id < 60 per side): the ground-truth near-dup measure, and the
    * one SQL-expressible enough for the DuckDB oracle. Intersection via
    * shingle self-join; |A∪B| = |A|+|B|−|A∩B|. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docSh = t(s, dir, "documents")
      .filter(col("doc_id") < 60)
      // Fused (optimization r18): the composed shingles() ran its
      // n-gram lambda interpreted per position; the shingle_array
      // kernel (spec-pinned equal, already the verify-path form) emits
      // the identical distinct-shingle array codegen'd.
      .select(col("doc_id"),
        graft.functions.HashKernels.shingle_array(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val sizes = docSh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val ex = docSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val inter = ex.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(ex.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash per document: every token votes ±1 on each bit of
    * its 64-bit key; the sign pattern becomes the fingerprint. Near-dups
    * differ in few bits. Per-row, no shuffle. The catalog query keys
    * tokens with the leading MD5 half (fused kernel) so the fingerprint
    * has a full DuckDB oracle — `substr(md5(w),1,16)` reproduces the
    * key bit-for-bit; the xxhash64-keyed kernel (simhash64) remains the
    * throughput variant, cross-checked against its composed form in
    * NearDupSpec. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.HashKernels.simhash_md5(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** Composed-builtin simhash, kept as the cross-check reference for the
    * fused kernel. */
  def simhashComposed(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
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

  /** Shingle-TF hyperplane-LSH candidate pairs: vectorize each doc with
    * the codegen'd shingle hashed-TF kernel (feature hashing over word
    * 3-grams — no external model), bucket by multi-table hyperplane
    * codes, pair within buckets only — with the saturated-bucket guard.
    * 3-gram features rather than unigram TF: on this corpus (many docs
    * sharing one vocabulary) unigram vectors collapsed 14k of 40k
    * doc-bands into saturated buckets and cost 8/249 true pairs; n-gram
    * features encode word order, so only genuinely similar text
    * collides. Exposed for spec-level recall checks; the driver-facing
    * query re-scores these exactly ([[docEmbedNearDup]]). */
  def docEmbedCandidates(s: SparkSession, dir: String): DataFrame =
    docEmbedCandidatesOf(s, dir, graft.Tables.tSpread(s, dir, "documents"))

  private def docEmbedCandidatesOf(s: SparkSession, dir: String,
      docs: DataFrame): DataFrame = {
    // Bits size the buckets (candidate cost ~ N²/2^bits per table) and
    // adapt to corpus size from file metadata (no job at plan
    // construction). Narrower buckets cost per-table recall, so tables
    // scale with bits to hold union recall ≈ 0.86 at the cosine-.93
    // design point (8 tables at the 12-bit floor, ×1/0.88 per extra
    // bit). 6-bit tables once left 64 buckets → ~N²/64 pairs: 7.5 s at
    // sf0.1 vs ~1 s. Cap at 24 bits / 37 tables: ~10^9 docs land ~60
    // per bucket (guarded at 100); the table-count formula keeps union
    // recall flat, so the cap bounds shuffle cost (1.14×/bit), not
    // recall.
    // Recall design point: a pair at the verify threshold (3-gram
    // Jaccard 0.9 on same-length docs) sits at shingle-TF cosine
    // ≈ 2j/(1+j) ≈ 0.95 → plane agreement p ≈ 0.90 → per-12-bit-table
    // hit rate p^12 ≈ 0.31, so 16 tables give union recall ≈ 0.997 per
    // pair. dim=256 keeps feature-hash collisions from eroding the
    // cosine of short docs (64 dims cost ~0.03 cosine at ~35 shingles).
    // Bucket-size / plane-count balance: divisor 4096 targets ~16
    // docs/bucket (~250 B of text per doc). The two cost terms trade
    // against each other — projection ∝ bits·tables·dim per doc,
    // candidate popcounts ∝ bucket·tables per doc — and the popcount
    // side is ~1000× cheaper per unit, so buckets are kept an order of
    // magnitude fatter than the old 4-docs/bucket target (and 60+
    // docs/bucket, the original 16384 divisor, overwhelmed even the
    // popcount: 123 s at the 500k soak point). Table count pays the
    // recall bill for narrower buckets (×1/0.88 per extra bit, §recall
    // note above), capped at 32: past the cap, boundary-pair union
    // recall eases off the 0.997 design point (≈0.98 at the 5M-doc soak
    // config of 18 bits) while near-identical pairs (plane agreement
    // ≥0.97) stay at recall ≈1 − 1e-11 — the documented scale knob: pay
    // more tables for boundary recall, or accept the taper.
    import graft.functions.HashKernels.shingle_tf_vector
    import graft.functions.VectorFunctions.hyperplane_codes
    val (bits, tables) = tfLshShape(s, dir)
    // The projection runs ONCE per doc (hyperplane_codes over the cached
    // plane matrix); what rides the band shuffle is the packed code
    // array (`tables` ints), never the 256-float vector — an ~8× shuffle
    // reduction that also makes the pre-filter a popcount. No explicit
    // isNotNull filter on the vector: Catalyst would push it through the
    // projection and evaluate the kernel twice per row; explode of the
    // null band array already drops unshingleable docs for free.
    tfCandidatesFromCodes(
      docs.select(col("doc_id"),
        hyperplane_codes(shingle_tf_vector(col("text"), 3, 256), bits, tables)
          .as("codes")),
      bits, tables)
  }

  /** Band explosion + degenerate-bucket guard + popcount pre-filter
    * over a (doc_id, codes) frame — shared by the live candidates
    * (codes projected from text in-plan) and the staged probe (codes
    * read from [[BandIndex]]'s `tfcodes/`).
    *
    * Degenerate-bucket guard, star-degraded: a band holding more than
    * SaturatedBand docs is a saturated code region where all-vs-all
    * pairing is O(size²). Instead of dropping such bands outright
    * (which silently lost every pair of a >100-doc dup cluster), they
    * degrade to a STAR on the band's StarHubs smallest doc ids:
    * O(8·size) candidates that keep the cluster CONNECTED (and robust
    * to one hub failing the verify threshold). The driver-facing query
    * runs this over exact-dup-collapsed representatives, so identical
    * mega-clusters never saturate a band — [[saturatedBands]] reports
    * any remaining distinct-text saturation and the differential gate
    * asserts there is none on the shipped fixtures. Both window stats
    * share the band partitioning with the self-join, so the exchange
    * is planned once and reused. */
  private def tfCandidatesFromCodes(codes: DataFrame,
      bits: Int, tables: Int): DataFrame = {
    import graft.functions.VectorFunctions.codeBandKeys
    val e = codes.select(col("doc_id"), col("codes"),
      explode(codeBandKeys(col("codes"), bits, tables)).as("band"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"))
    tfGuardedPairs(e
      .withColumn("band_n", count(lit(1)).over(w))
      .withColumn("hub_rank",
        row_number().over(w.orderBy(col("doc_id")))),
      bits)
  }

  /** The adaptive hyperplane-LSH shape for the corpus at `dir`, from
    * file metadata only (no job at plan construction) — deterministic
    * per corpus version, so the staged index build and the online probe
    * derive the same (bits, tables) by construction. Sizing rationale
    * in [[docEmbedCandidatesOf]]'s scaladoc. */
  private[llm] def tfLshShape(s: SparkSession, dir: String): (Int, Int) = {
    val bytes = graft.Tables.tableSizeBytes(s, dir, "documents")
    val bits = math.min(24, math.max(12,
      math.ceil(math.log(math.max(bytes / 4096.0, 2.0)) / math.log(2)).toInt))
    val tables = math.min(32,
      math.ceil(16.0 * math.pow(1.0 / 0.88, (bits - 12).toDouble)).toInt)
    (bits, tables)
  }

  /** Guard + popcount-pre-filtered self-join over (band, doc_id, codes,
    * band_n, hub_rank) rows.
    *
    * Coarse pre-filter before the exact-verify join: a threshold-
    * boundary true pair (3-gram Jaccard 0.9 → cosine ≈ 0.95, minus
    * feature-hash noise on short docs → plane agreement p ≈ 0.88) has
    * σ ≈ 0.023 over the tables×bits ≥ 192 code bits, so the 0.78 cut
    * sits >4σ below the worst-case design point (0.85 clipped 2 of 249
    * true pairs at sf0.1), while still killing ~99% of bucket-collision
    * noise (agreement ~0.5–0.75) for the price of a popcount — the
    * shingle-array shuffle in the verify join only ever sees
    * survivors. */
  private def tfGuardedPairs(allStats: DataFrame, bits: Int): DataFrame = {
    import graft.functions.VectorFunctions.code_agreement
    val stats = allStats.filter(col("band_n") > 1)
    val a = stats
      .filter(col("band_n") <= SaturatedBand || col("hub_rank") <= StarHubs)
      .select(col("band"), col("doc_id").as("doc_a"), col("codes").as("ca"))
    val b = stats.select(col("band"), col("doc_id").as("doc_b"), col("codes").as("cb"))
    a.join(b, Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(code_agreement(col("ca"), col("cb"), bits) >= 0.78)
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b") // pair may collide in several tables
  }

  /** Model-free embedding near-dup over documents, exact-verified: the
    * complete text→vector→LSH→verify dedup loop. Hashed-TF cosine
    * approximates token-multiset similarity, good enough to propose
    * candidates; the verify stage re-scores each candidate with exact
    * 3-gram Jaccard and keeps pairs at ≥ 0.9 (a stricter bar than
    * [[minhashNearDup]]'s 0.8 — this is the "delete one of the two"
    * dedup decision, where false positives destroy data). Fully
    * oracle-checked against brute-force DuckDB Jaccard. */
  def docEmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val sc = stagedCorpus(s, dir)
    val (bits, tables) = tfLshShape(s, dir)
    val cand = tfCandidatesFromCodes(sc.tfcodes, bits, tables)
    expandCollapsed(rescoreExactJaccard(s, dir, cand, 0.9),
      sc.dups, sc.dupRepShingleSize)
  }

  /** Observability for the saturation contract: post-collapse bands
    * whose member count exceeds [[SaturatedBand]] — i.e. >100 DISTINCT
    * texts sharing one band digest. Inside such a band the candidate
    * stage is the 8-hub star, so the pair-level listing is complete
    * only through the hubs; this view makes that state loud instead of
    * silent. The differential gate asserts it is empty on the shipped
    * fixtures, and the soak prints it per decade. One row per
    * (path, band) with the member count. */
  def saturatedBands(s: SparkSession, dir: String): DataFrame = {
    // Live banding (not the staged table) on purpose: this diagnostic
    // cross-checks the banding code itself, so it must not read the
    // artifact it would be auditing.
    val reps = repDocs(s, dir, collapsedDups(s, dir))
    def saturated(banded: DataFrame, path: String): DataFrame =
      banded.groupBy("band").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > SaturatedBand)
        .select(lit(path).as("path"), col("band"), col("n_docs"))
    val mh = saturated(mhBandedOf(reps, 64, 16), "minhash")
    val (bits, tables) = tfLshShape(s, dir)
    import graft.functions.HashKernels.shingle_tf_vector
    import graft.functions.VectorFunctions.{codeBandKeys, hyperplane_codes}
    val tf = reps
      .select(col("doc_id"),
        explode(codeBandKeys(
          hyperplane_codes(shingle_tf_vector(col("text"), 3, 256), bits, tables),
          bits, tables)).as("band"))
    mh.unionByName(saturated(tf, "shingle_tf")).orderBy("path", "band")
  }

  /** Brute-force thresholded 3-gram Jaccard pairs over the whole corpus
    * — the ground-truth set the LSH pipelines must reproduce. O(n²) in
    * the worst case by definition (it IS the verification oracle, never
    * the production path); the differential gate runs it at fixture
    * scales against [[minhashNearDup]] / [[docEmbedNearDup]] so a
    * fixture regeneration that breaks candidate recall fails with a
    * named-pair diagnostic instead of an opaque oracle hash mismatch. */
  def exactNearDupBrute(s: SparkSession, dir: String, minJaccard: Double): DataFrame = {
    val docSh = graft.Tables.tSpread(s, dir, "documents")
      .filter(size(toks(col("text"))) >= 3)
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

  /** Chunk-granular near-dup across documents — [[graft.llm.TextOps
    * chunkWindows]]'s sliding windows (width 40 / stride 30, the
    * training-sequence unit) put through the MinHash+LSH cascade: find
    * pairs of chunks FROM DIFFERENT DOCUMENTS whose 3-shingle Jaccard
    * clears 0.9. This is the span-granular fuzzy complement to q101's
    * exact window dedup and q43's doc-level near-dup: a long verbatim
    * passage embedded in two otherwise-different documents surfaces
    * here as its chunks pairing off, without either document pairing as
    * a whole.
    *
    * Oracle-exactness argument (q43's, one level down): at the 0.9
    * threshold on 3-shingles of ~40-token chunks, qualifying fixture
    * pairs are identical shingle SETS (identical or trivially-reordered
    * spans); identical sets hash to identical signatures, so every band
    * collides and candidate recall at the threshold is complete —
    * deterministically, not probabilistically. The sim is then
    * exact-verified integer set arithmetic rounded by the midpoint rule,
    * so the output is a pure function of the input.
    *
    * Scale shape: the chunk frame is a MAP-SIDE derivation of the scan
    * (explode + slice; deliberately NOT checkpointed — each consumer
    * re-derives it at scan speed, where a `localCheckpoint` would pile
    * up storage blocks across repeated operator runs in a long-lived
    * session and thrash execution memory: measured 9 s → 160 s on the
    * second back-to-back run at the 110k-chunk soak point); banding
    * and verify read it through FUSED kernels (ShingleMinHash
    * text→signature, ShingleArray + codegen md5 for the digests — the
    * composed shingles()/transform(md5) form ran as an interpreted
    * lambda per row and was ~5× slower), so no chunk text rides any
    * shuffle; banding shuffles (band, ids); the verify joins key on
    * (chunk, digest) and touch CANDIDATE chunks only. */
  def chunkNearDup(s: SparkSession, dir: String): DataFrame = {
    val width = 40
    val stride = 30
    val k = 16
    val bands = 8
    import graft.functions.HashKernels.{shingle_array, shingle_minhash}
    val tk = toks(col("text"))
    val chunks =
      graft.Tables.tSpread(s, dir, "documents")
        .select(col("doc_id"), tk.as("tk"), size(tk).cast("long").as("n_tokens"))
        .withColumn("n_chunks",
          ceil(greatest(col("n_tokens") - (width - stride), lit(1L))
            .cast("double") / stride).cast("long"))
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          concat_ws(" ",
            slice(col("tk"), (col("chunk_id") * stride + 1).cast("int"), lit(width)))
            .as("chunk_text"))
        .filter(size(shingle_array(col("chunk_text"), 3)) > 0)
    val banded = chunks
      .select(col("doc_id"), col("chunk_id"),
        explode(bandHashes(shingle_minhash(col("chunk_text"), 3, k), k, bands))
          .as("band"))
    val a = banded.select(col("band"), col("doc_id").as("doc_a"),
      col("chunk_id").as("chunk_a"))
    val b = banded.select(col("band"), col("doc_id").as("doc_b"),
      col("chunk_id").as("chunk_b"))
    val cand = a.join(b, Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "chunk_a", "doc_b", "chunk_b")
      .dropDuplicates("doc_a", "chunk_a", "doc_b", "chunk_b")
    val ex = chunks.select(col("doc_id"), col("chunk_id"),
      explode(shingle_array(col("chunk_text"), 3)).as("g"))
      .select(col("doc_id"), col("chunk_id"), md5(col("g")).as("gd"))
    val sizes = chunks.select(col("doc_id"), col("chunk_id"),
      size(shingle_array(col("chunk_text"), 3)).cast("long").as("n_sh"))
    // Intersection counts restricted to candidates: fan candidate pairs
    // out over side A's digests, then match side B on (chunk, digest).
    val inter = cand
      .join(ex.select(col("doc_id").as("doc_a"), col("chunk_id").as("chunk_a"),
        col("gd")), Seq("doc_a", "chunk_a"))
      .join(ex.select(col("doc_id").as("doc_b"), col("chunk_id").as("chunk_b"),
        col("gd")), Seq("doc_b", "chunk_b", "gd"))
      .groupBy("doc_a", "chunk_a", "doc_b", "chunk_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"),
        col("chunk_id").as("chunk_a"), col("n_sh").as("n_a")),
        Seq("doc_a", "chunk_a"))
      .join(sizes.select(col("doc_id").as("doc_b"),
        col("chunk_id").as("chunk_b"), col("n_sh").as("n_b")),
        Seq("doc_b", "chunk_b"))
      .select(col("doc_a"), col("chunk_a"), col("doc_b"), col("chunk_b"),
        (floor(col("n_inter") * 10000.0
          / (col("n_a") + col("n_b") - col("n_inter")) + 0.5) / 10000)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.9)
      .orderBy("doc_a", "chunk_a", "doc_b", "chunk_b")
  }

  /** Exact edit-distance verification over a candidate-pair frame — the
    * verify stage of fuzzy dedup when the similarity that matters is
    * character-level (OCR noise, template fills, small in-place edits)
    * rather than bag-of-shingles Jaccard. `pairs` carries (id_a, id_b);
    * similarity is 1 − levenshtein/max(len), rounded by the
    * floor(x·10⁴+0.5) midpoint rule (the one rounding both engines agree
    * on for doubles).
    *
    * Scale shape: the corpus is scanned narrow; only CANDIDATE texts are
    * joined in (the pair list is blocking- or LSH-bounded, orders of
    * magnitude smaller than the corpus), so full-corpus text never rides
    * a shuffle — the first join broadcasts the pair ids into the scan,
    * the second shuffles candidate rows only. Levenshtein is O(len²) per
    * pair; the candidate generator, not this verifier, is responsible
    * for keeping the pair count subquadratic. */
  def editVerify(docs: DataFrame, pairs: DataFrame, minSim: Double): DataFrame = {
    val ta = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    // The candidate frame is tiny in BYTES but heavy in CPU (levenshtein
    // is O(len²) per pair), so two plan hazards would serialize it: AQE's
    // size-based coalescing folds the post-join exchange onto one core,
    // and the sim-threshold filter gets pushed into the join condition —
    // evaluating levenshtein inside the (single-partition) join pipeline
    // and a second time downstream. Repartitioning by pair AND cutting
    // lineage on the (small) candidate-text frame pins the plan: one
    // levenshtein per pair, spread across the cluster.
    val spread = graft.Materialize.stable(
      pairs.join(ta, Seq("id_a")).join(tb, Seq("id_b"))
        .repartition(docs.sparkSession.sparkContext.defaultParallelism,
          col("id_a"), col("id_b")))
    spread
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"),
        greatest(length(col("text_a")), length(col("text_b")))
          .cast("long").as("max_len"))
      .withColumn("sim",
        floor((lit(1.0) - col("edit_dist").cast("double") / col("max_len"))
          * 10000 + lit(0.5)) / 10000)
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b", "edit_dist", "max_len", "sim")
      .orderBy("id_a", "id_b")
  }

  /** Edit-distance near-dup with classic blocking (the sorted-
    * neighborhood / blocking-key family of record linkage): candidates
    * are pairs agreeing on (source, lang, ⌊len/25⌋) — metadata a
    * character-level near-dup almost always preserves — then exact
    * normalized-levenshtein verify at ≥ 0.30. At sf0.1 blocking admits
    * ~8k of the 12.5M possible pairs (~1/1500); in production the
    * candidate generator would be the staged MinHash band index
    * (editVerify composes with any pair source — NearDupSpec runs it
    * over band-collision candidates), but the blocked form is the one
    * that is fully DuckDB-expressible, which buys q93 an exact oracle
    * instead of a rows-only check. */
  def editNearDup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        length(col("text")).cast("long").as("n"))
    val a = d.select(col("doc_id").as("id_a"), col("source"), col("lang"),
      floor(col("n") / 25).as("bkt"))
    val b = d.select(col("doc_id").as("id_b"), col("source"), col("lang"),
      floor(col("n") / 25).as("bkt"))
    val pairs = a.join(b, Seq("source", "lang", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    editVerify(t(s, dir, "documents"), pairs, minSim = 0.30)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q43_minhash_neardup" -> minhashNearDup,
    "q44_ngram_jaccard" -> ngramJaccard,
    "q45_simhash"       -> simhash,
    "q49_doc_embed_neardup" -> docEmbedNearDup,
    "q62_dup_clusters"  -> dupClusters,
    "q75_canonical_selection" -> canonicalSelection,
    "q76_incremental_neardup" -> incrementalNearDup,
    "q84_incremental_staged" -> incrementalNearDupStaged,
    "q85_substring_overlap" -> substringOverlap,
    "q87_ingest_dedup_flags" -> ((s, dir) => ingestDedupFlags(s, dir)),
    "q93_edit_neardup" -> editNearDup,
    "q107_chunk_neardup" -> chunkNearDup)

  // q43/q49 ARE oracle-checked despite their probabilistic candidate
  // stage: the exact-verified output equals brute-force thresholded
  // Jaccard as long as candidate recall is complete at the threshold
  // (it is, at every fixture scale — and candidate recall on planted
  // dups is additionally pinned in NearDupSpec).
  val oracleSql: Map[String, String] = Map(
    // q45: md5-keyed simhash replayed in SQL. Per token the 64-bit key
    // is substr(md5(w),1,16); bit i (LSB-numbered) lives in hex char
    // 16 - i//4 at nibble position i%4; votes sum ±1 per token; the
    // sign pattern packs to a signed BIGINT through HUGEINT (bit 63 is
    // the sign contribution -2^63). Docs with no tokens fingerprint to
    // 0 via the left join.
    "q45_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, u.w AS w
        |  FROM documents, unnest(string_split(text, ' ')) AS u(w)
        |  WHERE u.w <> ''),
        |th AS (SELECT doc_id, substr(md5(w), 1, 16) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, g.i AS i,
        |    SUM(CASE WHEN ((strpos('0123456789abcdef',
        |          substr(h, CAST(16 - (g.i // 4) AS INT), 1)) - 1)
        |        >> (g.i % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM th, unnest(generate_series(0, 63)) AS g(i)
        |  GROUP BY doc_id, g.i),
        |fp AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN vote > 0 THEN
        |      CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |           ELSE CAST(CAST(1 AS BIGINT) << CAST(i AS INT) AS HUGEINT) END
        |    ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(fp.simhash, 0) AS simhash
        |FROM documents d LEFT JOIN fp USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q107_chunk_neardup" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |            FROM documents),
        |ch AS (SELECT doc_id,
        |    unnest(list_transform(
        |      generate_series(1, CAST(ceil(greatest(len(tk) - 10, 1) / 30.0) AS BIGINT)),
        |      i -> struct_pack(chunk_id := i - 1,
        |        ctk := list_slice(tk, (i - 1) * 30 + 1,
        |          least((i - 1) * 30 + 40, len(tk)))))) AS s
        |  FROM tk),
        |sh AS (SELECT doc_id, CAST(s.chunk_id AS BIGINT) AS chunk_id,
        |    list_distinct(CASE WHEN len(s.ctk) < 3 THEN []
        |      ELSE list_transform(generate_series(1, len(s.ctk) - 2),
        |        i -> s.ctk[i] || ' ' || s.ctk[i+1] || ' ' || s.ctk[i+2]) END) AS grams
        |  FROM ch),
        |g AS (SELECT doc_id, chunk_id, len(grams) AS n_sh, unnest(grams) AS gr
        |      FROM sh WHERE len(grams) > 0),
        |p AS (SELECT a.doc_id AS doc_a, a.chunk_id AS chunk_a,
        |    b.doc_id AS doc_b, b.chunk_id AS chunk_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_inter,
        |    any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
        |  FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, chunk_a, doc_b, chunk_b,
        |  floor(n_inter * 10000.0 / (n_a + n_b - n_inter) + 0.5) / 10000 AS jaccard
        |FROM p
        |WHERE floor(n_inter * 10000.0 / (n_a + n_b - n_inter) + 0.5) / 10000 >= 0.9
        |ORDER BY doc_a, chunk_a, doc_b, chunk_b""".stripMargin,
    "q93_edit_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, text, CAST(length(text) AS BIGINT) AS n
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
        |    greatest(a.n, b.n) AS max_len
        |  FROM d a JOIN d b
        |    ON a.source = b.source AND a.lang = b.lang
        |   AND floor(a.n / 25) = floor(b.n / 25)
        |   AND a.doc_id < b.doc_id),
        |s AS (
        |  SELECT id_a, id_b, edit_dist, max_len,
        |    floor((1.0 - CAST(edit_dist AS DOUBLE) / max_len) * 10000 + 0.5)
        |      / 10000 AS sim
        |  FROM p)
        |SELECT id_a, id_b, edit_dist, max_len, sim
        |FROM s WHERE sim >= 0.30
        |ORDER BY id_a, id_b""".stripMargin,
    "q87_ingest_dedup_flags" ->
      """WITH corpus AS (
        |  SELECT md5(text) AS digest, MIN(doc_id) AS rep_id
        |  FROM documents WHERE doc_id % 10 <> 7 GROUP BY 1),
        |batch AS (
        |  SELECT doc_id, md5(text) AS digest
        |  FROM documents WHERE doc_id % 10 = 7)
        |SELECT b.doc_id,
        |  COALESCE(c.rep_id, -1) AS rep_id,
        |  c.rep_id IS NOT NULL AS is_exact_dup
        |FROM batch b LEFT JOIN corpus c USING (digest)
        |ORDER BY doc_id""".stripMargin,
    "q75_canonical_selection" ->
      """WITH RECURSIVE
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
        |csizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
        |           FROM labels GROUP BY cluster_id),
        |qn AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT l.doc_id, l.cluster_id, s.n_docs, q.n_tokens,
        |  row_number() OVER (PARTITION BY l.cluster_id
        |                     ORDER BY q.n_tokens DESC, l.doc_id) = 1 AS keep_best
        |FROM labels l
        |JOIN csizes s USING (cluster_id)
        |JOIN qn q USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q76_incremental_neardup" ->
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
        |  SELECT a.doc_id AS new_doc, b.doc_id AS old_doc, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle
        |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
        |  GROUP BY 1, 2)
        |SELECT new_doc, old_doc, n_inter,
        |  sa.n_sh + sb.n_sh - n_inter AS n_union,
        |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = new_doc
        |JOIN sizes sb ON sb.doc_id = old_doc
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
        |ORDER BY new_doc, old_doc""".stripMargin,
    // q84 is contract-identical to q76 (staged index vs self-contained
    // plan — same brute-force (new, old) >= 0.8 output), so it shares
    // the same oracle SQL verbatim.
    "q84_incremental_staged" ->
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
        |  SELECT a.doc_id AS new_doc, b.doc_id AS old_doc, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle
        |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
        |  GROUP BY 1, 2)
        |SELECT new_doc, old_doc, n_inter,
        |  sa.n_sh + sb.n_sh - n_inter AS n_union,
        |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = new_doc
        |JOIN sizes sb ON sb.doc_id = old_doc
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
        |ORDER BY new_doc, old_doc""".stripMargin,
    "q62_dup_clusters" ->
      """WITH RECURSIVE
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
        |csizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
        |           FROM labels GROUP BY cluster_id)
        |SELECT l.doc_id, l.cluster_id, s.n_docs,
        |       l.doc_id = l.cluster_id AS keep
        |FROM labels l JOIN csizes s USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,
    "q43_minhash_neardup" ->
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
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |  sa.n_sh + sb.n_sh - n_inter AS n_union,
        |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q49_doc_embed_neardup" ->
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
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |  sa.n_sh + sb.n_sh - n_inter AS n_union,
        |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q85_substring_overlap" ->
      """WITH reps AS (
        |  SELECT min(doc_id) AS doc_id, any_value(text) AS text
        |  FROM documents GROUP BY md5(text)),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    list_transform(generate_series(1, len(text) - 39),
        |      i -> md5(substr(text, i, 40))),
        |    d -> substr(d, 1, 1) = '0'))) AS gram
        |  FROM reps WHERE len(text) >= 40),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
        |keep AS (SELECT doc_id, gram FROM g
        |  WHERE gram IN (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 50)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM keep a JOIN keep b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared, sa.n_grams AS n_a, sb.n_grams AS n_b,
        |  CAST(n_shared AS DOUBLE) / least(sa.n_grams, sb.n_grams) AS containment
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_shared >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q44_ngram_jaccard" ->
      """WITH docsh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN []
        |      ELSE list_transform(generate_series(1, len(tk) - 2),
        |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS sh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents WHERE doc_id < 60)),
        |nonempty AS (SELECT doc_id, sh FROM docsh WHERE len(sh) > 0),
        |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM nonempty),
        |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |  sa.n_sh + sb.n_sh - n_inter AS n_union,
        |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin)
}
