package graft.stream

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Per-microbatch lineage/metrics log (north rule: "per-partition
  * lineage/metrics (events applied, dedup drops, merge latency) emitted per
  * microbatch"). Scalars + per-bucket applied counts land in the snapshot
  * JSON (GraftLake.Snapshot.metrics) — which rides the FileSystem-API
  * commit path and is therefore the durable record on any storage scheme;
  * this flat jsonl is a local convenience log (append is java.nio because
  * the Hadoop local checksum FS does not support appends), skipped for
  * non-local lake roots. */
object Metrics {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The jsonl log of a local lake root (plain or `file:` URI); None for
    * any other scheme, whose per-batch record is the snapshot only. */
  def logPath(lakeRoot: String): Option[Path] = {
    val root =
      if (lakeRoot.startsWith("file:"))
        Some(Paths.get(java.net.URI.create(lakeRoot).getPath))
      else if (lakeRoot.contains(":/")) None
      else Some(Paths.get(lakeRoot))
    root.map(_.resolve("_metrics.jsonl"))
  }

  def append(lakeRoot: String, m: BatchMetrics): Unit = synchronized {
    logPath(lakeRoot).foreach(p =>
      Files.writeString(p, mapper.writeValueAsString(m) + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND))
  }
}
