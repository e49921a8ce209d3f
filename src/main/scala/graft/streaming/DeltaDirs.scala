package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** THE `b<id>` delta-directory read, defined once for every streaming
  * maintainer — previously five near-verbatim copies whose drift had
  * already produced a real crash bug (the digest maintainer's copy
  * relied on parquet schema INFERENCE, which throws on a segment with
  * zero part files — exactly what a batch with nothing first-seen
  * writes; every sibling passed an explicit schema).
  *
  * Contract pieces, all mandatory for replay safety:
  *   - only names matching `b<digits>` / `t<lo>_<hi>` (and the legacy
  *     `c<digits>`) count (a stray checkpoint or temp dir must not make
  *     the id parse throw);
  *   - ids STRICTLY BELOW `batchId` — a `b*` glob would also pick up
  *     `b<batchId>` left by a failed attempt of the SAME batch, so the
  *     replaying batch would see its own half-written state (the
  *     round-8 replay-idempotence lesson);
  *   - EXPLICIT schema — an empty aggregate writes a segment with zero
  *     part files, which schema inference cannot read; the explicit
  *     schema turns it into an empty frame instead of an
  *     AnalysisException that kills the stream.
  *
  * ==Tiered compaction==
  *
  * Without compaction every micro-batch appends a `b<id>` dir and every
  * later batch lists-and-unions ALL of them — a batch-count-dependent
  * cost the round-10 soak measured at ~1.7 ms per accumulated dir
  * (1.36 s → ~5.8 s per batch over 2500 batches). Round 11's fix folded
  * everything into ONE `c<W>` dir per cadence point — which bounded the
  * LISTING cost but made the FOLD cost linear in stream age (the
  * round-12 posting soak: 9.8 s at batch 300 → 26.7 s at 600), because
  * each cadence point re-read and re-wrote the full accumulated state.
  *
  * [[compact]] now folds into TIERED segments `t<lo>_<hi>` ("covers
  * batch ids lo..hi inclusive"), maintained with the logarithmic method
  * (Bentley & Saxe, "Decomposable searching problems I", J. Algorithms
  * 1980 — the same size-tiered shape as the LSM-tree, O'Neil et al.,
  * Acta Informatica 1996):
  *
  *   - each cadence point folds only the LIVE `b<id>` dirs into one new
  *     young segment — cost bounded by the cadence window, not the
  *     stream's age;
  *   - adjacent segments merge when the older one's covered span is
  *     less than `mergeFactor`× (default 2×) the younger one's, so
  *     segment spans grow geometrically old→young: at most
  *     ~log2(batches) segments exist, each row is rewritten O(log n)
  *     times over the stream's life, and the big merges are
  *     correspondingly rare — amortized fold cost per batch is
  *     O(log n) instead of O(n).
  *
  * The segment family is LAMINAR by construction (a new segment's range
  * is always the exact union of the ranges it replaces, and a b-fold
  * starts at the previous maximal hi + 1), so readers need no manifest:
  * the MAXIMAL complete segments — those not contained in another
  * complete segment — are pairwise disjoint and tile the covered
  * prefix. [[readSegs]] reads the maximal segments plus the `b<id>`
  * dirs above their cover, all `< batchId`.
  *
  * Every fold is ROW-PRESERVING — a segment holds exactly the union of
  * the rows of the dirs it covers — so compacted and uncompacted reads
  * are row-for-row identical for every consumer (all downstream use is
  * order-free unions feeding joins/aggregates), and one fold
  * implementation serves all seven maintainer families with no
  * family-specific merge math. Global stat recomputation (e.g. the band
  * family's per-segment saturation stats) remains the offline base
  * rebuild's job, as before.
  *
  * Crash safety of a single publish, step by step:
  *   1. the fold is written to a private `t<lo>_<hi>.tmp-<uuid>` dir
  *      (ignored by [[readSegs]]: the name doesn't full-match a segment
  *      pattern), with a `_COMPACTED` marker file written LAST
  *      (underscore-prefixed, so parquet scans skip it);
  *   2. one atomic rename publishes it as `t<lo>_<hi>` — a reader sees
  *      the dir whole or not at all, and a markerless segment dir
  *      (non-atomic FS crash window) is skipped by readers;
  *   3. only THEN are the covered inputs pruned (`b<id>` dirs and
  *      non-maximal segments). A crash between 2 and 3 leaves both the
  *      fold and its inputs; readers take the maximal complete segments
  *      and ignore contained ones, so nothing is double-counted, and
  *      the next [[compact]] call finishes the prune.
  * A crash mid-CASCADE (between two merges of the same compact call)
  * leaves a chain that violates the geometric invariant; the next call
  * re-checks the whole chain, not just the tail, so the cascade
  * resumes.
  *
  * Replay safety: a maintainer calls [[compact]] only with
  * `upTo = batchId`, i.e. it folds only batches STRICTLY BEFORE the
  * in-flight one — all committed (Structured Streaming starts batch N
  * only after N-1's commit), never the in-flight batch's own possibly-
  * replayed segment. Hence every segment ever published covers only ids
  * below every live batch id, and a replaying batch reads exactly the
  * same rows it saw before the crash (DeltaDirsSpec pins this).
  *
  * Concurrency posture (one rule for both publish races): segment
  * names are DETERMINISTIC functions of the covered range, so a
  * markered occupant at our rename target can only be the SAME logical
  * fold published by a crashed-then-resumed predecessor — identical
  * rows by the row-preservation contract — and is ADOPTED (our tmp is
  * discarded, a loud note is logged, nothing counts as published by
  * this call). A rename that fails with NO occupant has no such benign
  * explanation — a genuinely concurrent foreign writer — and throws.
  *
  * Knob (system property, read per call): `graft.delta.verbose=true`
  * prints one line per publish (covered span, wall seconds) — the
  * soak's fold-cost curve. */
object DeltaDirs {

  private def fsOf(s: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p, p.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  private val Marker = "_COMPACTED"
  private val SegRe = "t(\\d+)_(\\d+)".r
  private val LegacyRe = "c(\\d+)".r

  /** A complete (markered) compacted segment covering batch ids
    * [lo, hi]; legacy `c<W>` dirs parse as [0, W]. */
  private case class Seg(lo: Long, hi: Long, name: String) {
    def span: Long = hi - lo + 1
    def covers(id: Long): Boolean = lo <= id && id <= hi
    def inside(o: Seg): Boolean = o.lo <= lo && hi <= o.hi &&
      (o.lo < lo || hi < o.hi ||
        // equal range: a legacy c<W> shadowed by t0_<W> (only possible
        // through a crash straddling the naming migration) — drop c
        (o.name != name && name.startsWith("c")))
  }

  private def parseSeg(n: String): Option[Seg] = n match {
    case SegRe(lo, hi) => Some(Seg(lo.toLong, hi.toLong, n))
    case LegacyRe(w) => Some(Seg(0L, w.toLong, n))
    case _ => None
  }

  /** (maximal complete segments sorted by lo, live b-ids above their
    * cover), both restricted to ids strictly below `batchId`. One
    * listing (plus one marker probe per candidate segment). */
  private def layout(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, batchId: Long): (Seq[Seg], Seq[Long]) = {
    if (!fs.exists(p)) return (Nil, Nil)
    val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
    val segs = names.flatMap(parseSeg)
      .filter(_.hi < batchId)
      // a markerless segment dir is a crashed non-atomic publish: skip
      .filter(sg => fs.exists(
        new org.apache.hadoop.fs.Path(p, s"${sg.name}/$Marker")))
    val maximal = segs.filter(sg => !segs.exists(o => sg.inside(o)))
      .sortBy(_.lo)
    val bs = names.filter(_.matches("b\\d+")).map(_.drop(1).toLong)
      .filter(id => id < batchId && !maximal.exists(_.covers(id))).sorted
    (maximal, bs)
  }

  /** Read the rows of `dirs[/sub]` as one frame with the given schema;
    * empty-frame-safe. A missing sub path (half-written batch — a
    * maintainer that crashed BETWEEN its two segment writes, e.g.
    * semDedupMaintain lands b<N>/edges but not b<N>/vecs) degrades to
    * missing rows — exactly what a replay of that batch will
    * overwrite — instead of an AnalysisException that kills the stream
    * forever (an unbounded probe-time read is never healed by replay).
    * exists() per dir is one namenode RTT each; compaction keeps the
    * dir set small, and correctness of a crash window beats the
    * listing cost. */
  private def readDirs(s: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[org.apache.hadoop.fs.Path], sub: String,
      schema: StructType): DataFrame = {
    val qs = dirs
      .map(q => if (sub.isEmpty) q else new org.apache.hadoop.fs.Path(q, sub))
      .filter(q => sub.isEmpty || fs.exists(q))
      .map(_.toString)
    if (qs.nonEmpty) s.read.schema(schema).parquet(qs: _*)
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Live (uncovered) `b<id>` segment count below `batchId` — the
    * observed state-read amplification the size-triggered fold bounds
    * (r16 verdict item 3). One listing; no data read. Byte totals are
    * deliberately NOT probed: folds are row-preserving, so folding
    * never shrinks state bytes — what it cuts is the per-read DIR
    * count (listing + file-open overhead, the ~1.7 ms/dir the r10 soak
    * measured and the between-fold growth the r16 ce=200 attempt
    * re-measured at 2 → 8.8 s/batch), and dir count is exactly what
    * this returns. */
  def liveBCount(s: SparkSession, deltaDir: String, batchId: Long): Int = {
    val (p, fs) = fsOf(s, deltaDir)
    layout(fs, p, batchId)._2.length
  }

  /** Read `deltaDir/b<id>[/sub]` for every id < `batchId` — through the
    * compacted segments where they cover a prefix — as one frame with
    * the given schema; empty-frame-safe when nothing has landed. */
  def readSegs(s: SparkSession, deltaDir: String, sub: String,
      schema: StructType, batchId: Long = Long.MaxValue): DataFrame = {
    val (p, fs) = fsOf(s, deltaDir)
    val (segs, bs) = layout(fs, p, batchId)
    val dirs =
      segs.map(sg => new org.apache.hadoop.fs.Path(p, sg.name)) ++
        bs.map(id => new org.apache.hadoop.fs.Path(p, s"b$id"))
    readDirs(s, fs, dirs, sub, schema)
  }

  /** Fold every delta segment with id < `upTo` into the tiered segment
    * chain and prune the covered dirs. `subs` names each sub-table with
    * its explicit schema (one `("", schema)` entry for flat families).
    * Row-preserving, atomic per publish, crash-resumable (scaladoc
    * above). No-op (beyond finishing a crashed predecessor's prune)
    * when nothing new has landed AND the chain already satisfies the
    * geometric invariant. Returns true iff this call published at
    * least one new segment. */
  def compact(s: SparkSession, deltaDir: String,
      subs: Seq[(String, StructType)], upTo: Long): Boolean = {
    val (p, fs) = fsOf(s, deltaDir)
    val verbose = sys.props.get("graft.delta.verbose").contains("true")

    // finish a crashed predecessor's prune: covered b dirs, non-maximal
    // segments, stale fold tmps, and ANY marker-less segment dir — a
    // complete publish carries the marker (written into the tmp BEFORE
    // the rename), so a marker-less one is by definition a crashed
    // non-atomic publish. It must be deleted here, not merely skipped:
    // Hadoop's rename-onto-existing-dir contract NESTS the source
    // inside the destination, so a leftover marker-less occupant would
    // swallow the next fold's tmp (marker ends up nested, readers keep
    // skipping the dir) while prune deletes the fold's inputs — silent
    // row loss. Readers skipping it (in `layout`) handles the read
    // path; this handles liveness of the write path.
    def prune(): Unit = if (fs.exists(p)) {
      val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
      val complete = names.flatMap(parseSeg).filter(sg => fs.exists(
        new org.apache.hadoop.fs.Path(p, s"${sg.name}/$Marker")))
      val maximal = complete.filter(sg => !complete.exists(o => sg.inside(o)))
      names.foreach { n =>
        val covered = parseSeg(n) match {
          case Some(sg) =>
            !maximal.exists(_.name == n) // non-maximal or marker-less
          case None =>
            n.matches("(t\\d+_\\d+|c\\d+)\\.tmp-.*") ||
              (n.matches("b\\d+") &&
                maximal.exists(_.covers(n.drop(1).toLong)))
        }
        if (covered) fs.delete(new org.apache.hadoop.fs.Path(p, n), true)
      }
    }

    /** Write the fold of `srcDirs` to a tmp, marker it, atomically
      * publish as `t<lo>_<hi>`, prune the inputs. Returns false when a
      * markered occupant made this publish redundant (adopted). */
    def publish(lo: Long, hi: Long,
        srcDirs: Seq[org.apache.hadoop.fs.Path]): Boolean = {
      val t0 = System.nanoTime()
      val name = s"t${lo}_$hi"
      val tmp = s"$deltaDir/$name.tmp-${java.util.UUID.randomUUID}"
      subs.foreach { case (sub, schema) =>
        val out = if (sub.isEmpty) tmp else s"$tmp/$sub"
        // a sub that was empty at every covered batch folds to an
        // empty dir — same missing-rows degradation readers apply
        readDirs(s, fs, srcDirs, sub, schema)
          .write.mode("overwrite").parquet(out)
      }
      val mo = fs.create(new org.apache.hadoop.fs.Path(s"$tmp/$Marker"), true)
      mo.close()
      val outPath = new org.apache.hadoop.fs.Path(s"$deltaDir/$name")
      // never rename onto an occupied path (it would NEST, not
      // replace): a marker-less occupant is a crash that landed after
      // the up-front heal — delete it; a markered one is the SAME
      // deterministic fold published by a crashed-then-resumed
      // predecessor — adopt theirs, discard ours, and say so.
      val adopted = fs.exists(outPath) && {
        if (fs.exists(new org.apache.hadoop.fs.Path(outPath, Marker))) {
          System.err.println(s"[delta-compact] NOTE: $name already " +
            "published (resumed predecessor?) — adopting the occupant")
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
          true
        } else { fs.delete(outPath, true); false }
      }
      if (!adopted && !fs.rename(new org.apache.hadoop.fs.Path(tmp), outPath)) {
        // single-writer discipline makes this unreachable in a correct
        // deployment; degrade loudly rather than double-count
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        throw new IllegalStateException(
          s"delta compaction rename lost at $outPath — concurrent writer?")
      }
      prune()
      if (verbose) println(f"[delta-compact] published $name " +
        f"span=${hi - lo + 1} wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
      !adopted
    }

    // heal crashed publishes BEFORE folding, so rename targets are
    // clean and the chain/live-set computation sees only complete state
    prune()
    var (chain, bs) = layout(fs, p, upTo)
    var published = false

    // 1. fold the live b dirs into one new young segment. Its range
    // starts just above the chain's cover (contiguity keeps the family
    // laminar; ids in a gap wrote no dir, so claiming them is
    // row-preserving and vacuous).
    if (bs.nonEmpty) {
      val lo = chain.lastOption.map(_.hi + 1).getOrElse(bs.min)
      val hi = bs.max
      published |= publish(lo, hi,
        bs.map(id => new org.apache.hadoop.fs.Path(p, s"b$id")))
      chain = layout(fs, p, upTo)._1
    }

    // 2. restore the geometric invariant over the WHOLE chain (not just
    // the tail — a crash mid-cascade leaves a violation anywhere):
    // merge the youngest adjacent pair where the older segment's span
    // is < 2× the younger's, until no such pair remains.
    var repeat = true
    while (repeat && chain.length >= 2) {
      val i = chain.indices.dropRight(1)
        .lastIndexWhere(j => chain(j).span < 2 * chain(j + 1).span)
      if (i < 0) repeat = false
      else {
        val (a, b) = (chain(i), chain(i + 1))
        published |= publish(a.lo, b.hi, Seq(
          new org.apache.hadoop.fs.Path(p, a.name),
          new org.apache.hadoop.fs.Path(p, b.name)))
        chain = layout(fs, p, upTo)._1
      }
    }
    published
  }
}
