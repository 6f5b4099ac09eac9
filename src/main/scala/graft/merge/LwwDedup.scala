package graft.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-batch last-writer-wins dedup: one surviving event per key, the one
  * with the maximum offset.
  *
  * Semantics come from the reference's single-consumer-in-offset-order
  * application (reference: server/infoPersistent/BinlogDataStorageWithLevelDB.java:156-260
  * iterator order = seqId order per base/ServerConstants.java:111-149) —
  * applying events in offset order and keeping the final state per key is
  * equivalent to keeping only each key's max-offset event, because every
  * row event carries a full after-image (no partial updates).
  *
  * Physical shape: `max_by(struct(<event>), offset)` — Spark's built-in
  * `MaxBy` with struct ordering reproduces the reference comparator (struct
  * comparison is lexicographic by field: fileIdx, pos, rowIdx). Partial
  * aggregation (map-side combine) makes the shuffle carry at most one row
  * per (key, input-partition), whatever the key skew.
  */
object LwwDedup {

  /** Columns that identify a key — the MERGE key of the north rule. */
  val keyCols: Seq[String] = Seq("repo", "path")

  /** events: one row per change event with top-level `repo`,`path`, an
    * offset struct column named `offsetCol`, plus arbitrary payload columns.
    * Returns one row per key (same schema). */
  def dedup(events: DataFrame, offsetCol: String = "offset"): DataFrame = {
    val payload = events.columns.filterNot(keyCols.contains)
    val packed = struct(payload.map(col).toSeq: _*)
    events
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(packed, col(offsetCol)).as("_e"))
      .select(keyCols.map(col) ++ payload.map(c => col(s"_e.$c")): _*)
  }
}
