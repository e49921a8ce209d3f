package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared machinery for STAGED DERIVED ASSETS — the offline indexes
  * (BandIndex, PostingIndex, IvfIndex, SemDedupIndex) and the
  * interchange exports all follow the same lifecycle, defined once
  * here instead of five near-verbatim copies:
  *
  *   1. **Identity → location**: the asset lives at
  *      `cacheRoot/<prefix>_<md5(identity)>`, where the identity
  *      string folds in the corpus per-file manifest digest
  *      (SessionMemo.manifestDigest), every build parameter, and a
  *      layout version — content drift or a parameter change moves the
  *      key, so a stale asset is never probed. The full 128-bit md5
  *      matters: a short hash would let two corpora collide and
  *      silently serve the wrong rows, no error.
  *   2. **Stage-then-rename publish**: the builder writes into a
  *      private `<out>.tmp-<uuid>` directory, then ONE atomic rename
  *      moves it to the final path — a concurrent JVM sharing the
  *      cache root can never read a half-written asset.
  *   3. **Marker-keyed completeness**: an asset is complete iff its
  *      marker file (`<out>/<markerRel>`) exists, which only ever
  *      happens via the rename. A final path WITHOUT the marker is a
  *      crashed older publish — moved ASIDE (rename to a unique
  *      `.trash-<uuid>` sibling, then deleted) rather than deleted in
  *      place: the rename is atomic, so a concurrent reader of the
  *      published directory sees it either whole or absent, never
  *      half-recursively-deleted; and the marker is re-checked
  *      immediately before the move so the window in which a
  *      just-completed concurrent publish could be trashed (and then
  *      deterministically republished — the key pins content) is one
  *      syscall, not a full staging write. A LOST rename race means
  *      another process published first; their asset is
  *      byte-equivalent (the key pins corpus + parameters + layout),
  *      so the loser deletes its tmp and proceeds — unless no complete
  *      asset exists, which is a real failure and throws.
  *   4. **Reads pass the memoized schema**: a published table is read
  *      through [[read]], which infers its schema once per JVM and
  *      passes it on every later read, so a probe's construction starts
  *      no inference job. Sound by rules 1–3: a published path is
  *      content-addressed and never rewritten in place, so any change
  *      to a staged table's schema bumps the layout version and moves
  *      the path. `tmp-<uuid>` build paths are never memoized; a build
  *      reads its own output back with the schema of the frame it wrote.
  */
object StagedAsset {

  def cacheRoot: String =
    sys.env.getOrElse("GRAFT_INDEX_DIR",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-index")

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Deterministic asset location for an identity string. */
  def dir(prefix: String, identity: String): String =
    s"$cacheRoot/${prefix}_${md5Hex(identity)}"

  /** Fresh private staging dir for `out`. */
  def tmpDir(out: String): String =
    s"$out.tmp-${java.util.UUID.randomUUID}"

  def markerPath(out: String, markerRel: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$out/$markerRel")

  def isComplete(s: SparkSession, out: String, markerRel: String): Boolean = {
    val marker = markerPath(out, markerRel)
    marker.getFileSystem(s.sparkContext.hadoopConfiguration).exists(marker)
  }

  /** Atomic publish of a fully-written `tmp` to `out` (rules 2–3
    * above). `what` names the asset in the lost-race failure message. */
  def publish(s: SparkSession, tmp: String, out: String,
              markerRel: String, what: String): Unit = {
    val outPath = new org.apache.hadoop.fs.Path(out)
    val marker = markerPath(out, markerRel)
    val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath) && !fs.exists(marker)) {
      // Crashed older publish: move it aside atomically, then delete
      // the trash. Re-check the marker right before the move — if a
      // concurrent publisher completed in between, keep their asset
      // (rule 3 above). A move that still races a just-landed rename
      // converges: the loser's re-publish below is byte-equivalent.
      def renameAside(): Boolean = {
        val trash = new org.apache.hadoop.fs.Path(
          s"$out.trash-${java.util.UUID.randomUUID}")
        val moved = fs.rename(outPath, trash)
        if (moved) fs.delete(trash, true)
        moved
      }
      if (!fs.exists(marker)) {
        // Rename-aside refused (open handles, an FS that won't rename a
        // busy dir): retry once with a fresh trash name — a transient
        // refusal (reader mid-listing) usually clears — then fall back
        // to in-place delete. Without the fallback the marker-less
        // leftover survives, the publish rename below lands our tmp
        // NESTED inside it, the lostNested probe deletes the only
        // complete staging copy, and we throw "no complete asset
        // exists" despite having just built one. In-place delete loses
        // the atomic-visibility nicety but only for a dir that is
        // already unreadable garbage (no marker ⇒ no reader trusts it);
        // the marker is re-checked IMMEDIATELY before the delete so the
        // window in which a just-completed concurrent publish could be
        // recursively deleted is one syscall, as rule 3 promises.
        if (!renameAside() && !fs.exists(marker) && !renameAside()
            && !fs.exists(marker))
          fs.delete(outPath, true)
      }
    }
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val renamed = fs.rename(tmpPath, outPath)
    // Hadoop rename semantics when the destination exists (a
    // concurrent publisher won the race): HDFS renames the source
    // INTO the directory and RawLocalFileSystem falls through to a
    // copy-as-child — in both cases the call returns TRUE and our
    // complete staging copy lands NESTED inside the winner's
    // published asset. A plain `if (!rename)` would declare victory
    // and leave a full duplicate copy (TB-scale for a corpus table)
    // polluting the asset forever. Probe for out/<tmp-basename> and
    // treat the nested landing as the lost race it is.
    val nested = new org.apache.hadoop.fs.Path(outPath, tmpPath.getName)
    val lostNested = renamed && fs.exists(nested)
    if (lostNested) fs.delete(nested, true)
    if (!renamed || lostNested) {
      if (!renamed) fs.delete(tmpPath, true)
      if (!fs.exists(marker))
        throw new IllegalStateException(
          s"$what publish failed and no complete asset exists at $out")
    }
    // Best-effort sweep of crashed-recovery trash: a crash between the
    // recovery's rename-aside and its delete strands
    // <out>.trash-<uuid> in the cache root with nothing else ever
    // looking at it. Trash dirs are garbage by construction (they only
    // ever hold an incomplete crashed publish), so deleting a sibling
    // publisher's in-flight trash merely completes that publisher's
    // own next step.
    try {
      val base = outPath.getName
      fs.listStatus(outPath.getParent).foreach { st =>
        if (st.getPath.getName.startsWith(s"$base.trash-"))
          fs.delete(st.getPath, true)
      }
    } catch { case _: java.io.IOException => () }
  }

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Read the published staged table at `path` (rule 4 above). */
  def read(s: SparkSession, path: String): DataFrame =
    if (path.contains(".tmp-")) s.read.parquet(path)
    else {
      val schema = Option(schemas.get(path)).getOrElse {
        val inferred = s.read.parquet(path).schema
        schemas.putIfAbsent(path, inferred)
        inferred
      }
      s.read.schema(schema).parquet(path)
    }

  /** Build-if-absent: returns `out`, invoking `build` only when the
    * completeness marker is missing. `build` must end in [[publish]]. */
  def ensure(s: SparkSession, out: String, markerRel: String)
            (build: => Unit): String = {
    if (!isComplete(s, out, markerRel)) build
    out
  }
}
