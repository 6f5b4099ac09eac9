package graft

import graft.feed.{BinlogFeedGen, FeedReader}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.merge.MergeApply
import graft.stream.{CdcIngestJob, ChangelogChain, IngestConfig, TableSpec}
import graft.table.GraftLake
import org.apache.spark.sql.functions._

/** Every lake writer records its file-list change exactly: with
  * `manifestEvery = 1` each commit stores its FULL file list beside its
  * `addedFiles`/`removedPaths`, so for every consecutive pair of snapshots
  * the stored list must equal the parent's list minus the removed paths
  * plus the added files. Expiry GC and `changesBetween` read only the
  * delta; a writer whose delta disagreed with its list would leak or
  * delete live files there. */
class ManifestDeltaSpec extends SparkSuite {

  private def metric(s: GraftLake.Snapshot, k: String): Long =
    s.metrics.getOrElse(k, 0L)

  /** Asserts the invariant over every retained pair; returns the log. */
  private def assertDeltasAgree(root: String): Seq[GraftLake.Snapshot] = {
    // a fresh handle: every snapshot comes from its stored full form,
    // never from the writer's in-memory image
    val lake = new GraftLake(root, 0, manifestEvery = 1)
    val log = lake.snapshotLog()
    assert(log.size >= 2 && log.forall(!_.incremental), s"$root: ${log.size}")
    log.map(_.id).sliding(2).foreach { case Seq(p, i) =>
      val prev = lake.snapshotAt(p).files.map(_.path)
      val cur = lake.snapshotAt(i)
      val want = prev.filterNot(cur.removed.toSet) ++ cur.added.map(_.path)
      val got = cur.files.map(_.path)
      val (extra, missing) = (got.diff(want), want.diff(got))
      assert(extra.isEmpty && missing.isEmpty, s"$root snapshot $i: stored " +
        s"files disagree with parent − removed + added: extra $extra, missing $missing")
      assert(cur.removed.forall(prev.contains),
        s"$root snapshot $i removed a path its parent did not hold")
    }
    log
  }

  test("ingest folds and splits, chain windows and chunked bootstraps, " +
    "optimize and rebucket all commit file lists equal to parent − " +
    "removedPaths + addedFiles") {
    val feedDir = tmp("feed")
    val srcRoot = tmp("src"); val winRoot = tmp("win"); val chunkRoot = tmp("chunk")
    BinlogFeedGen.writeFeed(spark, FeedConfig(nEvents = 2400, nKeys = 300,
      eventsPerFile = 300, noopFrac = 0.0, decoyFrac = 0.0), feedDir)
    // 128 buckets write width-2 range deltas; a fold budget of 1 makes
    // every one of them a split-tier file, and the split outputs fold
    val nBuckets = 128
    val cfg = IngestConfig(feedDir, srcRoot, tmp("cp"), nBuckets = nBuckets,
      tables = Seq(TableSpec(BinlogFeedGen.WatchedDb,
        BinlogFeedGen.WatchedTable, srcRoot, nBuckets = nBuckets,
        expireKeep = 1000, compactFactor = 0.0, maxDeltaFiles = 1,
        maxCompactBuckets = 1)))
    val src = new GraftLake(srcRoot, nBuckets, manifestEvery = 1)
    src.init(graft.model.Schemas.targetBase)
    val feed = FeedReader.readBatch(spark, feedDir)
    val fileIdxs = feed.select("offset.fileIdx").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    def ingest(idxs: Seq[Long]): Unit = idxs.foreach { f =>
      CdcIngestJob.applyBatch(spark, src, cfg,
        feed.filter(col("offset.fileIdx") === f),
        batchId = src.latest().get.batchId + 1)
    }
    val thirds = fileIdxs.grouped((fileIdxs.size + 2) / 3).toSeq
    ingest(thirds(0))

    // chain: a one-chunk bootstrap, then two windows (the second folds
    // the first's deltas); and a 3-chunk bootstrap (128 / 43 buckets per
    // chunk)
    val win = new GraftLake(winRoot, 8, manifestEvery = 1)
    def syncAgg(dst: GraftLake, chunk: Int) = ChangelogChain.sync(spark, src,
      dst, compactFactor = 0.0, maxDeltaFiles = 1, maxCompactBuckets = 2,
      expireKeep = 1000, bootstrapChunkBuckets = chunk)
    assert(syncAgg(win, 0).bootstrapped)
    thirds.drop(1).foreach { t =>
      ingest(t)
      val w = syncAgg(win, 0)
      assert(w.applied && !w.bootstrapped)
    }
    val chunked = new GraftLake(chunkRoot, 8, manifestEvery = 1)
    assert(syncAgg(chunked, 43).bootstrapped)

    // offline maintenance on the ingest lake
    assert(MergeApply.optimize(spark, src, maxBucketsPerCommit = 16).commits > 0)
    new GraftLake(srcRoot, nBuckets, manifestEvery = 1).rebucket(spark, 32)

    val srcLog = assertDeltasAgree(srcRoot)
    assert(srcLog.exists(s => s.batchId >= 0 && metric(s, "splitBuckets") > 0 &&
      metric(s, "eventsIn") > 0), "no ingest commit carried a split")
    assert(srcLog.exists(s => metric(s, "compactedBuckets") > 0 &&
      metric(s, "eventsIn") > 0), "no ingest commit carried a fold")
    assert(srcLog.exists(s => metric(s, "rebucketTo") == 32))
    val winLog = assertDeltasAgree(winRoot)
    assert(winLog.exists(s => metric(s, "compactedBuckets") > 0),
      "no chain window carried a fold")
    val chunkLog = assertDeltasAgree(chunkRoot)
    assert(chunkLog.map(metric(_, "bootstrapChunk")).filter(_ > 0) == Seq(1L, 2L, 3L))
  }
}
