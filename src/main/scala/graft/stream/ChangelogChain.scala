package graft.stream

import graft.merge.MergeApply
import graft.model.Offset
import graft.table.GraftLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lake→lake changelog subscription (round-4 verdict #5): a downstream
  * pipeline chains off an upstream graft lake WITHOUT replaying the binlog
  * feed — the reference's whole raison d'être is exactly this subscription
  * fan-out (reference client/akkaSystem/SingleTableBinlogClientActor.java:
  * 106-142 — a client table actor applies the server's change stream into
  * its own store, resuming from its own acked position).
  *
  * [[sync]] applies one incremental window: the NET per-key changes
  * between the destination's last-applied source snapshot and the source's
  * current one ([[GraftLake.changesBetween]] — O(window) scan, never
  * O(table)), landed as one delta-append commit in the destination.
  * [[follow]] is the subscription loop: it triggers a sync whenever the
  * source log advances (one cheap `latest()` probe per poll).
  *
  * Exactly-once falls out of the same fence the ingest job uses: the
  * destination commit records `batchId = <source snapshot id>` under
  * `lineage = changelog:<source root>`, so a replayed window (crash between
  * apply and the caller's own bookkeeping, double-fired poll, restarted
  * follower) is skipped by the fence — and a crash between the data write
  * and the commit strands only orphan files that [[GraftLake.vacuum]]
  * sweeps. The destination's rows/offsets/tombstones are the source's
  * (LWW winners travel verbatim), so after any sync the destination state
  * EQUALS the source state at the synced snapshot — ChainedLakeSpec pins
  * that against a direct feed replay.
  *
  * Schema evolution rides for free: the destination adopts the source's
  * full schema-version map each sync, and window rows land stamped with
  * the source's current version (drop/rename field ids included).
  *
  * Retention bound: a follower that falls more than the source's
  * `expireKeep` snapshots behind loses its window (changesBetween needs
  * the chain) and must re-bootstrap — the same bound the reference's
  * too-old-seqId check imposes on slow subscribers (O3 analog). A fresh
  * destination bootstraps from a full source read at the current snapshot
  * (the net change from empty IS the full state, tombstones included),
  * through the same chunk loop whatever the chunk size: the default is
  * one chunk covering every source bucket.
  */
object ChangelogChain {

  final case class SyncResult(
      srcSnapshot: Long,
      rowsApplied: Long,
      applied: Boolean,
      bootstrapped: Boolean = false)

  def lineageFor(src: GraftLake): String = s"changelog:${src.root}"

  /** Apply everything committed in `src` since the last sync into `dst`
    * as ONE commit; no-op (fenced) when `dst` is already at or past the
    * source's current snapshot. `clientId` gates against the SOURCE
    * lake's D10 registry — a chained consumer is a subscriber like any
    * other — and heartbeats it per sync.
    *
    * A fresh destination bootstraps from the source's full state at one
    * pinned snapshot, applied as bucket-range chunks of that snapshot —
    * one atomic destination commit each (round-5 verdict #1: at 10^10
    * rows a single full-table commit is a transaction the sink must
    * absorb whole, and one failure anywhere restarts all of it).
    * Bootstrap progress is recorded in the destination's own snapshot
    * metrics (`bootstrapSrcSnap`, `bootstrapChunk`, `bootstrapChunks`),
    * so a crashed bootstrap resumes at the first uncommitted chunk — never
    * re-serving completed ones — and every chunk reads the SAME pinned
    * source snapshot (the union is row-for-row the full state). The chunk
    * mapping is fixed by the FIRST chunk's commit and read back on resume,
    * so an option flip across a crash cannot re-map half-served chunks.
    *
    * @param bootstrapChunkBuckets source buckets per bootstrap chunk:
    *   ceil(srcBuckets / k) chunks; 0 (default) = one chunk covering every
    *   source bucket.
    * @param maxBootstrapChunksPerCall cap on chunk commits per sync()
    *   call (tests use 1 to exercise the crash-resume seam — returning
    *   between chunk commits IS the crash state, each commit being
    *   atomic). Callers passing a finite cap must re-call sync() until
    *   the destination's `batchId >= 0`; [[follow]] never caps. */
  def sync(spark: SparkSession, src: GraftLake, dst: GraftLake,
      clientId: Option[String] = None,
      compactFactor: Double = 4.0, maxDeltaFiles: Int = 16,
      maxCompactBuckets: Int = 16, expireKeep: Int = 50,
      bootstrapChunkBuckets: Int = 0,
      maxBootstrapChunksPerCall: Int = Int.MaxValue): SyncResult = {
    clientId.foreach(src.checkClient)
    val srcSnap = src.latest().getOrElse(
      throw new IllegalStateException(s"source lake ${src.root} is empty"))
    clientId.foreach(src.heartbeat)
    val dstSnap = dst.latest().getOrElse(dst.init(src.currentSchema(srcSnap)))
    val lineage = lineageFor(src)
    val ours = Option(dstSnap.lineage).getOrElse("") == lineage
    val from = if (ours && dstSnap.batchId >= 0) Some(dstSnap.batchId) else None
    // a mid-bootstrap destination: our own lineage, chunk progress in the
    // snapshot metrics (batchId stays -1 until the last chunk commits)
    val resume = from.isEmpty && ours && dstSnap.metrics.contains("bootstrapSrcSnap")
    if (from.exists(_ >= srcSnap.id)) // fence: window already applied
      return SyncResult(srcSnap.id, 0L, applied = false)
    // refuse to bootstrap ONTO foreign data: a destination populated by a
    // direct ingest (lineage = job uuid) or chained from a different source
    // would have its rows LWW-arbitrated against an unrelated offset space
    // — fail closed instead of silently producing a merged chimera
    if (from.isEmpty && dstSnap.files.nonEmpty && !resume)
      throw new IllegalStateException(
        s"destination ${dst.root} already holds data under lineage " +
          s"'${dstSnap.lineage}' (not $lineage); chain into a fresh " +
          "destination or resume the original subscription")

    // too-old guard (reference O3, for subscribers): the source snapshot
    // a sync reads from — a window's lower bound, a paused bootstrap's
    // pinned snapshot — must still be retained, or the window / consistent
    // base is gone; refuse with the remedy spelled out instead of
    // surfacing a manifest-chain internal error
    def requireRetained(id: Long, holder: String): Unit =
      for (floor <- src.oldestRetainedId() if id < floor)
        throw new IllegalStateException(
          s"subscription too old: $holder source snapshot $id, but " +
            s"${src.root} retains only ids >= $floor — re-bootstrap into a " +
            "fresh destination (or raise the source's expireKeep)")

    // Land `rows` — per-key unique LWW winners of source snapshot
    // `served` — as the successor of `parent`: write and mark them, run
    // the destination's own fold/split, and commit both as one snapshot,
    // so a subscription (and a huge bootstrap as it lands) keeps its delta
    // debt bounded with the plan the ingest job runs. Tombstone GC
    // horizon = the destination's own applied bound: per-key LWW winner
    // offsets at the source are MONOTONE (stale re-deliveries are
    // collapsed at the source before any window is cut), so no future
    // window can deliver a row below a tombstone the destination already
    // holds — and without a horizon a delete-heavy subscription grows its
    // tombstone set forever (round-5 review). A bootstrap has no applied
    // bound yet.
    def land(parent: GraftLake.Snapshot, served: GraftLake.Snapshot,
        rows: DataFrame, batchId: Long, lastOffset: Option[Offset],
        progress: Map[String, Long]): GraftLake.Snapshot = {
      // the destination adopts the source's schema history wholesale
      val adopted = parent.copy(schemas = served.schemas,
        schemaVersion = served.schemaVersion)
      val files = MergeApply.writeFresh(dst, adopted, src.currentSchema(served),
        rows, served.id, perKeyUnique = _ => true)
      val plan = MergeApply.compactionPlan(parent.files, compactFactor,
        maxDeltaFiles, maxCompactBuckets)
      val c = MergeApply.runPlan(spark, dst, parent, plan, served.id,
        maxCompactBuckets, tombstoneHorizon = parent.lastOffset)
      val next = adopted.next(c.produced ++ files, c.consumed, progress ++ Map(
        "chainedRows" -> files.map(_.rows).sum,
        "srcSnapshot" -> served.id,
        "compactedBuckets" -> plan.fold.size.toLong,
        "splitBuckets" -> c.split.buckets.size.toLong))
        .copy(batchId = batchId, lastOffset = lastOffset, lineage = lineage,
          nBuckets = dst.nBuckets)
      dst.commit(next)
      next
    }

    val result = from match {
      case Some(f) =>
        requireRetained(f, s"destination ${dst.root} last applied")
        // writer lease on the destination: fences the full-sweep vacuum
        // off uncommitted files until the commits below land
        dst.renewLease(lineage)
        val next = land(dstSnap, srcSnap, src.changesBetween(spark, f, srcSnap.id),
          srcSnap.id, srcSnap.lastOffset, Map.empty)
        SyncResult(srcSnap.id, next.metrics("chainedRows"), applied = true)
      case None =>
        val pinnedId =
          if (resume) dstSnap.metrics("bootstrapSrcSnap") else srcSnap.id
        requireRetained(pinnedId, s"the mid-bootstrap destination ${dst.root} pins")
        val pinned =
          if (pinnedId == srcSnap.id) srcSnap else src.snapshotAt(pinnedId)
        val srcN = if (pinned.nBuckets > 0) pinned.nBuckets else 1
        val total =
          if (resume) dstSnap.metrics("bootstrapChunks").toInt
          else if (bootstrapChunkBuckets <= 0) 1
          else math.ceil(srcN.toDouble / bootstrapChunkBuckets).toInt
        val done =
          if (resume) dstSnap.metrics.getOrElse("bootstrapChunk", 0L).toInt else 0
        val w = math.max(1, math.ceil(srcN.toDouble / total).toInt)
        dst.renewLease(lineage)
        var cur = dstSnap
        var rowsApplied = 0L
        for (j <- done until math.min(total, done + math.max(1, maxBootstrapChunksPerCall))) {
          val buckets = (j * w until math.min((j + 1) * w, srcN)).toSet
          val last = j == total - 1
          // the full state is the net change from empty: tombstones ride
          // along so later windows cannot resurrect deleted keys; a chunk
          // spanning every source bucket reads the whole table
          cur = land(cur, pinned, src.read(spark, pinned,
              Some(buckets).filter(_.size < srcN), includeTombstones = true),
            // batchId stays -1 (the "mid-bootstrap" mark the resume and
            // the window fence both key on) until the LAST chunk commits
            batchId = if (last) pinnedId else -1L,
            lastOffset = if (last) pinned.lastOffset else None,
            Map("bootstrapSrcSnap" -> pinnedId,
              "bootstrapChunk" -> (j + 1).toLong,
              "bootstrapChunks" -> total.toLong))
          rowsApplied += cur.metrics("chainedRows")
        }
        SyncResult(pinnedId, rowsApplied, applied = true, bootstrapped = true)
    }
    dst.expire(expireKeep)
    // the synced files are referenced now — release eagerly so a
    // stop-then-vacuum needn't wait out the TTL (a crashed sync leaves its
    // lease to age out, which is exactly the fence stranded files need)
    dst.releaseLease(lineage)
    result
  }

  /** Subscription loop: trigger a [[sync]] whenever the source log has a
    * new snapshot (readStream-style incremental consumption, expressed as
    * a poll on the snapshot log — the log IS the stream). Runs until
    * `until` returns true; `onSync` observes each applied window. */
  def follow(spark: SparkSession, src: GraftLake, dst: GraftLake,
      pollMs: Long = 1000L, clientId: Option[String] = None,
      until: () => Boolean = () => false,
      onSync: SyncResult => Unit = _ => ()): Unit = {
    var lastSeen = -1L
    while (!until()) {
      val tip = src.latest().map(_.id).getOrElse(-1L)
      if (tip > lastSeen) {
        val r = sync(spark, src, dst, clientId)
        lastSeen = r.srcSnapshot
        if (r.applied) onSync(r)
      } else Thread.sleep(pollMs)
    }
  }
}
