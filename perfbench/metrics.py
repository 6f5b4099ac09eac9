"""Turns one run's raw JSON document (written by perfbench.Main) into the
benchmark's metrics: the gated end-to-end metrics, the named per-workload
metrics of the detail line, and the traced run's per-layer metrics. The
metric map is perfbench/METRICS.md."""
import json

from stats import (attach, first_covering, lateness_ms, layer_self_times, median,
                   percentile, self_times, summary, union_length)

HEADLINE = ["q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
            "cdc_lww_latest", "cdc_final_state", "cdc_noop_suppress",
            "cdc_asof_last_click", "cdc_hourly_rollup", "cdc_changelog",
            "dedup_exact", "minhash_signature", "dedup_simhash", "doc_fingerprint",
            "text_quality", "token_count", "embed_cosine_topk", "embed_ann_lsh",
            "mm_binary_meta"]
LAYERS = ["feed", "stream", "merge", "table", "ops"]

GATE_UNITS = {"latency_p50_ms": "ms", "throughput_per_s": "1/s", "setup_s": "s"}

PER_LAYER_UNITS = dict(
    [("feed.scan_floor_s", "s"), ("feed.input_mb", "MB"), ("feed.events_in", "count"),
     ("stream.batches", "count"), ("stream.batch_s_p50", "s"), ("stream.batch_s_p90", "s"),
     ("stream.jobs_per_batch", "count"), ("stream.queue_wait_s_p50", "s"),
     ("stream.driver_s_p50", "s"), ("stream.backlog_files_max", "count"),
     ("stream.sync_s", "s"), ("stream.sync_rows", "count"),
     ("merge.stats_s", "s"), ("merge.stats_cpu_s", "s"), ("merge.stats_task_skew", "ratio"),
     ("merge.write_s", "s"), ("merge.write_cpu_s", "s"), ("merge.shuffle_mb", "MB"),
     ("merge.spill_mb", "MB"), ("merge.gc_s", "s"), ("merge.fold_s", "s"),
     ("merge.fold_cpu_s", "s"), ("merge.folded_buckets", "count"),
     ("merge.fold_rows_per_delta_row", "ratio"),
     ("table.commit_ms_p50", "ms"), ("table.latest_ms", "ms"),
     ("table.point_files_planned", "count"), ("table.files", "count"),
     ("table.delta_files", "count"), ("table.scan_rows_per_live_row", "ratio"),
     ("table.bytes_per_live_row", "B"), ("table.changes_files_read", "count")]
    + [(f"ops.{q}_s", "s") for q in HEADLINE]
    + [(f"{layer}.self_s", "s") for layer in LAYERS]
    + [("trace.overhead_frac", "ratio"), ("bench.gen_late_ms_max", "ms")])

PHASES = {"keyed stats scan": "merge.stats", "merge write": "merge.write",
          "fold/split": "merge.fold"}


def dur_ms(op):
    return op["end"] - op["start"]


def val(v, unit, **kw):
    return dict({"value": v, "unit": unit}, **kw)


def setup_seconds(raw):
    """JVM start to main, then every set-up phase."""
    return (raw["main_start"] - raw["jvm_start"]) / 1e3 + sum(raw["setup"].values())


# ---- per workload: (named metrics, latency ms, throughput /s) ----------------

def replay_e2e(raw):
    n = raw["nproc"]
    ops = [o for o in raw["ops"] if o["kind"] == "replay" and not o["traced"]]
    draws = [dur_ms(o) for o in ops if o["cores"] == n]
    events = ops[0]["events"]
    p50 = median(draws)
    eps = events / (p50 / 1e3)
    named = {"replay_events_per_s": val(eps, "events/s", n=len(draws)),
             "replay_draw_s": summary([d / 1e3 for d in draws], "s")}
    one = [dur_ms(o) for o in ops if o["cores"] == 1]
    if one and n > 1:
        eps1 = events / (median(one) / 1e3)
        named["replay_scaling_eff"] = val(eps / (n * eps1), "ratio", n=len(one))
    return named, p50, eps


def freshness_ms(ex):
    out = []
    for f in ex["files"]:
        s = first_covering(ex["snapshots"], f["file"])
        if s is not None:
            out.append(s["commit"] - f["due"])
    return out


def applied_batches(ex):
    return [b for b in ex["batches"] if b["rows"] > 0]


def tail_e2e(raw):
    ex = raw["extra"]
    fresh = freshness_ms(ex)
    batches = applied_batches(ex)
    cap = sum(b["rows"] for b in batches) / (sum(b["busy_ms"] for b in batches) / 1e3)
    s = [x / 1e3 for x in fresh]
    named = {"tail_fresh_p50_s": val(median(s), "s", n=len(s)),
             "tail_fresh_p90_s": val(percentile(s, 90), "s", n=len(s)),
             "tail_fresh_s": summary(s, "s"),
             "tail_capacity_events_per_s": val(cap, "events/s", n=len(batches)),
             "bench.gen_late_ms_max": val(max(lateness_ms(ex["files"])), "ms",
                                          n=len(ex["files"]))}
    return named, median(fresh), cap


def reads_e2e(raw):
    ops = raw["ops"]
    by = {k: [dur_ms(o) for o in ops if o["kind"] == k and not o["traced"]]
          for k in ("point", "scan", "window", "sync")}
    point = by["point"]
    busy_s = sum(dur_ms(o) for o in ops if not o["traced"]) / 1e3
    named = {"read_point_p50_ms": val(median(point), "ms", n=len(point)),
             "read_point_p90_ms": val(percentile(point, 90), "ms", n=len(point)),
             "read_point_ms": summary(point, "ms"),
             "read_scan_s": summary([x / 1e3 for x in by["scan"]], "s"),
             "changes_window_s": summary([x / 1e3 for x in by["window"]], "s"),
             "subscribe_s": summary([x / 1e3 for x in by["sync"]], "s")}
    return named, median(point), sum(len(v) for v in by.values()) / busy_s


def pass_totals(ops, traced):
    passes = {}
    for o in ops:
        if o["kind"] == "query" and o["traced"] == traced:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + dur_ms(o)
    return list(passes.values())


def queries_e2e(raw):
    qs = [dur_ms(o) for o in raw["ops"] if o["kind"] == "query" and not o["traced"]]
    passes = [p / 1e3 for p in pass_totals(raw["ops"], False)]
    named = {"query_suite_s": val(median(passes), "s", n=len(passes)),
             "query_s": summary([q / 1e3 for q in qs], "s")}
    return named, median(passes) * 1e3, len(qs) / (sum(qs) / 1e3)


E2E = {"bulk_replay": replay_e2e, "live_tail": tail_e2e, "lake_reads": reads_e2e,
       "query_suite": queries_e2e}


# ---- traced run: per-layer metrics ----------------------------------------------

def trace_tree(raw):
    """Bench spans (plus one span per applied streaming batch) and the
    Spark jobs attached to the innermost span holding them. Returns
    (spans, job spans); job names are merge phases by job description,
    else `<parent layer>.job`."""
    spans = list(raw["spans"])
    if raw["workload"] == "live_tail":
        for i, b in enumerate(applied_batches(raw["extra"])):
            spans.append({"id": 10**9 + i, "name": "stream.batch", "start": b["start"],
                          "end": b["start"] + b["busy_ms"], "parent": 0, "batch": b["batch"]})
    by_id = {s["id"]: s for s in spans}
    jobs = []
    for j in attach(raw["jobs"], spans):
        if not j["parent"]:
            continue
        phase = next((p for d, p in PHASES.items() if d in j["desc"]), None)
        layer = by_id[j["parent"]]["name"].split(".")[0]
        jobs.append(dict(j, id=2 * 10**9 + j["id"], name=phase or f"{layer}.job"))
    return spans, jobs


def task_skew(job):
    worst = 0.0
    for ms in job["stage_task_ms"]:
        if len(ms) > 1 and median(ms) > 0:
            worst = max(worst, max(ms) / median(ms))
    return worst


def per_layer(raw):
    w = raw["workload"]
    ex = raw["extra"]
    ops = raw["ops"]
    spans, jobs = trace_tree(raw)
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    units = [s for s in spans if s["name"] in ("stream.replayBatch", "stream.batch")]
    n_units = max(len(units) if w in ("bulk_replay", "live_tail")
                  else sum(1 for o in ops if o["traced"]), 1)

    # self time per layer, per unit of work
    for layer, t in layer_self_times(spans + jobs, lambda s: s["name"].split(".")[0]).items():
        if layer in LAYERS:
            out[f"{layer}.self_s"] = t / 1e3 / n_units

    # merge phases
    def phase(tag):
        return [j for j in jobs if j["name"] == tag]
    for tag, key in (("merge.stats", "stats"), ("merge.write", "write"), ("merge.fold", "fold")):
        js = phase(tag)
        out[f"merge.{key}_s"] = union_length([(j["start"], j["end"]) for j in js]) / 1e3 / n_units
        out[f"merge.{key}_cpu_s"] = sum(j["cpu_s"] for j in js) / n_units
    out["merge.stats_task_skew"] = median([task_skew(j) for j in phase("merge.stats")]) or 0.0
    merge_jobs = [j for j in jobs if j["name"].startswith("merge.")]
    for k in ("shuffle_mb", "spill_mb", "gc_s"):
        out[f"merge.{k}"] = sum(j[k] for j in merge_jobs) / n_units

    # stream: batch spans, their jobs and driver-only time
    st = self_times(spans + jobs)
    if units:
        out["stream.batches"] = len(units)
        bs = [(u["end"] - u["start"]) / 1e3 for u in units]
        out["stream.batch_s_p50"] = median(bs)
        out["stream.batch_s_p90"] = percentile(bs, 90)
        out["stream.jobs_per_batch"] = median(
            [sum(1 for j in jobs if j["parent"] == u["id"]) for u in units])
        out["stream.driver_s_p50"] = median([st[u["id"]] / 1e3 for u in units])

    if w == "bulk_replay":
        traced = [o for o in ops if o["traced"] and o["kind"] == "replay"]
        floors = [(s["end"] - s["start"]) / 1e3 for s in spans if s["name"] == "feed.scan_floor"]
        out["feed.scan_floor_s"] = median(floors) or 0.0
        out["feed.input_mb"] = ex["input_mb"]
        out["feed.events_in"] = median([o["events_in"] for o in traced]) or 0.0
        out["table.commit_ms_p50"] = median([o["commit_ms"] for o in traced]) or 0.0
        out["merge.folded_buckets"] = median([o["compacted_buckets"] for o in traced]) or 0.0
        untraced = [dur_ms(o) for o in ops if o["kind"] == "replay" and not o["traced"]
                    and o["cores"] == raw["nproc"]]
        tr = [dur_ms(o) for o in traced]
        if tr and untraced:
            out["trace.overhead_frac"] = median(tr) / median(untraced) - 1
    elif w == "live_tail":
        batches = applied_batches(ex)
        ids = {b["batch"] for b in batches}
        start_of = {b["batch"]: b["start"] for b in batches}
        n_b = max(len(batches), 1)
        out["feed.input_mb"] = sum(f["bytes"] for f in ex["files"]) / 1048576.0 / n_b
        out["feed.events_in"] = sum(b["rows"] for b in batches) / n_b
        waits = []
        for f in ex["files"]:
            s = first_covering(ex["snapshots"], f["file"])
            if s is not None and s["batch"] in start_of:
                waits.append((start_of[s["batch"]] - f["due"]) / 1e3)
        out["stream.queue_wait_s_p50"] = median(waits) or 0.0
        prebuilt = min(f["file"] for f in ex["files"]) - 1
        backlog = []
        for b in batches:
            landed = max([f["file"] for f in ex["files"] if f["landed"] <= b["start"]],
                         default=prebuilt)
            covered = max([s["last_file"] for s in ex["snapshots"] if s["commit"] <= b["start"]],
                          default=prebuilt)
            backlog.append(max(landed - covered, 0))
        out["stream.backlog_files_max"] = max(backlog, default=0)
        bm = [json.loads(x) for x in ex["batch_metrics_jsonl"]]
        bm = [m for m in bm if m["batchId"] in ids]
        out["table.commit_ms_p50"] = median([m["commitMs"] for m in bm]) or 0.0
        out["merge.folded_buckets"] = sum(m["compactedBuckets"] for m in bm) / n_b
        snaps = [s["metrics"] for s in ex["snapshots"] if s["batch"] in ids]
        written = sum(m.get("rowsWritten", 0) for m in snaps)
        folded = sum(m.get("compactedRows", 0) + m.get("splitRows", 0) for m in snaps)
        out["merge.fold_rows_per_delta_row"] = folded / written if written else 0.0
        out["trace.overhead_frac"] = raw["listener_s"] / ((ex["window_end"] - ex["window_start"]) / 1e3)
        out["bench.gen_late_ms_max"] = max(lateness_ms(ex["files"]))
    elif w == "lake_reads":
        s = ex["stats"]
        out["table.latest_ms"] = median(s.get("latest_ms", [])) or 0.0
        out["table.point_files_planned"] = median(s.get("point_files_planned", [])) or 0.0
        out["table.changes_files_read"] = median(s.get("changes_files_read", [])) or 0.0
        out["table.files"] = ex["lake_files"]
        out["table.delta_files"] = ex["lake_delta_files"]
        out["table.scan_rows_per_live_row"] = ex["lake_rows_stored"] / ex["live_rows"]
        out["table.bytes_per_live_row"] = ex["lake_bytes"] / ex["live_rows"]
        out["stream.sync_s"] = median([dur_ms(o) / 1e3 for o in ops
                                       if o["kind"] == "sync" and o["traced"]]) or 0.0
        out["stream.sync_rows"] = median(s.get("sync_rows", [])) or 0.0
        tr = [dur_ms(o) for o in ops if o["kind"] == "point" and o["traced"]]
        un = [dur_ms(o) for o in ops if o["kind"] == "point" and not o["traced"]]
        if tr and un:
            out["trace.overhead_frac"] = median(tr) / median(un) - 1
    elif w == "query_suite":
        for q in HEADLINE:
            out[f"ops.{q}_s"] = median([dur_ms(o) / 1e3 for o in ops
                                        if o["kind"] == "query" and o["query"] == q
                                        and o["traced"]]) or 0.0
        tr, un = pass_totals(ops, True), pass_totals(ops, False)
        if tr and un:
            out["trace.overhead_frac"] = median(tr) / median(un) - 1
    return {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]} for k, v in out.items()}


def compute(raw, rss_mb):
    """(named metrics, gated end-to-end metrics, per-layer metrics)."""
    named, lat_ms, thr = E2E[raw["workload"]](raw)
    setup = setup_seconds(raw)
    named["setup_s"] = val(setup, "s")
    named["peak_rss_mb"] = val(rss_mb, "MB")
    gate = {"latency_p50_ms": lat_ms, "throughput_per_s": thr, "setup_s": setup}
    gate = {k: {"value": float(v), "unit": GATE_UNITS[k]} for k, v in gate.items()}
    layers = per_layer(raw) if raw["trace"] else None
    return named, gate, layers
