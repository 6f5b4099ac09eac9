package graft.stream

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Per-microbatch lineage/metrics log (north rule: "per-partition
  * lineage/metrics (events applied, dedup drops, merge latency) emitted per
  * microbatch"). Scalars + per-bucket applied counts land in the snapshot
  * JSON (GraftLake.Snapshot.metrics) — which rides the FileSystem-API
  * commit path and is therefore the durable record on any storage scheme;
  * this flat jsonl is a local convenience log (append is java.nio because
  * the Hadoop local checksum FS does not support appends), skipped for
  * non-local lake roots. */
object Metrics {
  def append(lakeRoot: String, m: BatchMetrics): Unit = synchronized {
    val rootPath =
      if (lakeRoot.startsWith("file:"))
        Paths.get(java.net.URI.create(lakeRoot).getPath)
      else if (lakeRoot.contains(":/")) null // non-local scheme: snapshot only
      else Paths.get(lakeRoot)
    if (rootPath == null) return
    val line =
      s"""{"batchId":${m.batchId},"eventsIn":${m.eventsIn},""" +
      s""""watchedRows":${m.watchedRows},"noopDrops":${m.noopDrops},""" +
      s""""dedupDrops":${m.dedupDrops},"applied":${m.applied},""" +
      s""""ddls":${m.ddls},"mergeLatencyMs":${m.mergeLatencyMs},""" +
      s""""affectedBuckets":${m.affectedBuckets},""" +
      s""""statsMs":${m.statsMs},""" +
      s""""writeMs":${m.writeMs},"commitMs":${m.commitMs},""" +
      s""""rowsWritten":${m.rowsWritten},""" +
      s""""compactedBuckets":${m.compactedBuckets},""" +
      s""""compactMs":${m.compactMs},""" +
      s""""replayedSkip":${m.replayedSkip}}""" + "\n"
    Files.writeString(rootPath.resolve("_metrics.jsonl"), line,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
