package graft.tools

import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._

/** Warehouse hygiene: delete PROVABLY-STALE versioned state and model
  * assets from a spark-warehouse directory.
  *
  * Why this exists (round 18): the official bench runs from the repo
  * checkout, whose `spark-warehouse/` had accumulated 18 rounds of
  * state — 7,770 files across 355 dirs, including pre-versioning
  * state dirs (`graft_q269_state_<sfx>` next to the live
  * `graft_q269_state_d16_<sfx>`) and model tables keyed by older
  * TrainDefV tokens. A same-box, same-tree A/B (37 identical bench
  * entries) read 88.8 s from the stale checkout vs 79.2 s from a
  * fresh worktree — a ~12% whole-suite tax that had been misread as
  * a tree-level regression. Untouched queries (q03: 1.67 vs 1.32 s)
  * inflate through interleaved-neighbor pressure, not through reading
  * the stale dirs themselves. GC alone recovered it (76.4 s).
  * PROFILE.md round 18 has the full ladder.
  *
  * At 100 TB the same discipline applies: every TrainDefV bump
  * orphans the previous version's state/model directories — nothing
  * ever reads them again (the new name misses the catalog and
  * training reruns), so they are pure storage + listing + cache
  * pressure. This tool deletes exactly three orphan classes and
  * nothing else:
  *
  *  - a version token other than the current
  *    [[graft.queries.OpsQueries.TrainDefV]] in the `_dNN__<sfx>`
  *    position, where `<sfx>` is [[graft.queries.OpsQueries.sfx]] of
  *    the dataset path — ANCHORED at the double-underscore
  *    dataset-suffix boundary every versioned writer produces
  *    (`..._d16__root_...`),
  *    so `d<digits>` appearing inside a dataset PATH (`/mnt/d5/sf1`
  *    → sfx `_mnt_d5_sf1`) can never classify a live asset stale;
  *  - legacy `graft_*_state_*` entries with NO version token (the
  *    pre-d16 state paths — superseded by the versioned discipline);
  *  - unversioned instances of the model/asset FAMILIES whose
  *    current writers always version their names (clf weights/rates/
  *    threshold, LM tables, ensemble edges, decont eval sets): an
  *    unversioned `graft_clf_w__<sfx>` is pre-versioning garbage by
  *    construction.
  *
  * Unversioned data assets outside those families (bloom/zorder/
  * manifest/bm25/bpe tables, keyed by dataset path, reused across
  * rounds) are NEVER touched: they are live serve-from-asset inputs,
  * not versioned state.
  *
  * Usage: `runMain graft.tools.StateGc [warehouseDir] [--apply]`
  * Dry-run by default — prints what it would delete and the live/
  * stale counts; `--apply` deletes. The bench runs the same pass
  * automatically before warmup (see Bench.scala).
  */
object StateGc {

  /** Version token anchored at the sfx boundary: every versioned
    * writer builds `<family>_${TrainDefV}_${sfx}` where sfx begins
    * with '_' (absolute dataset paths), yielding `_dNN__`.
    */
  private val VersionTok = "_(d\\d+)__".r

  /** Families whose CURRENT writers always carry a TrainDefV token;
    * an unversioned instance (`<prefix>_<sfx>` = `<prefix>__...`) is
    * therefore pre-versioning garbage. Kept in sync with the
    * `graft_..._${TrainDefV}_` name builders in OpsQueries.
    */
  private val VersionedFamilies = Seq(
    "graft_clf_w", "graft_clf_r", "graft_clf_thr",
    "graft_lm_uni", "graft_lm_model",
    "graft_ens_edges", "graft_decont_eval")

  /** Pure classification so the rule is unit-testable against the
    * real observed names. `v` is the CURRENT TrainDefV token.
    */
  def isStale(name: String, v: String): Boolean = {
    val toks = VersionTok.findAllMatchIn(name).map(_.group(1)).toList
    if (toks.nonEmpty) toks.exists(_ != v)
    else if (name.startsWith("graft_") && name.contains("_state_")) true
    else VersionedFamilies.exists(f => name.startsWith(f + "__"))
  }

  private def listChildren(p: Path): List[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Delete the tree WITHOUT following symlinks (a linked stale entry
    * must drop the link, never the target's contents) and return the
    * number of plain files removed — one traversal, no separate
    * counting pass.
    */
  private def rmTree(p: Path): Long = {
    val n =
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
        listChildren(p).map(rmTree).sum
      else 1L
    Files.deleteIfExists(p)
    n
  }

  /** Plain-file count of a tree (symlinks counted as files, not
    * followed). Shared with the bench's `wh_files` witness.
    */
  def countFiles(p: Path): Long =
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      listChildren(p).map(countFiles).sum
    else 1L

  /** Classify-and-optionally-delete; the shared engine for the CLI
    * form below and the bench's pre-warmup hygiene pass. Returns
    * (staleEntries, staleFiles, liveEntries); logs through `out` so
    * the bench can prefix its own tag. staleFiles is a plain-file
    * count (deleted count when `apply`, would-delete count when not).
    */
  def gc(wh: Path, v: String, apply: Boolean,
         out: String => Unit = println): (Int, Long, Int) = {
    if (!Files.isDirectory(wh)) return (0, 0L, 0)
    val entries = listChildren(wh).sortBy(_.toString)
    val (stale, live) = entries.partition(p => isStale(p.getFileName.toString, v))
    val staleFiles = stale.map { p =>
      out(s"stale: ${p.getFileName}")
      if (apply) rmTree(p) else countFiles(p)
    }.sum
    (stale.size, staleFiles, live.size)
  }

  def main(args: Array[String]): Unit = {
    val apply = args.contains("--apply")
    val wh = Paths.get(
      args.filterNot(_ == "--apply").headOption
        .getOrElse("spark-warehouse"))
    val v = graft.queries.OpsQueries.TrainDefV
    if (!Files.isDirectory(wh)) {
      println(s"[stategc] no warehouse at $wh — nothing to do")
      return
    }
    val (nStale, staleFiles, nLive) =
      gc(wh, v, apply, m => println(s"[stategc] $m"))
    val mode = if (apply) "DELETED" else "would delete (dry run; pass --apply)"
    println(s"[stategc] current version $v: $nLive live entries kept, " +
      s"$nStale stale entries / $staleFiles files $mode")
  }
}
