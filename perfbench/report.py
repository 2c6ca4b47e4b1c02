"""Turns one run's raw records (result.json, spans.jsonl, jobs.jsonl) into
the benchmark's end-to-end and per-layer metrics."""
import re

import stats

# the curation funnel's layers are measured in the traced medallion_incremental
# run (see README.md)
WORKLOADS = ["medallion_incremental", "lakehouse_reads"]

# name → unit; the metrics the benchmark gates on, printed by every workload
END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "rows_per_s": "rows/s", "heap_peak_mb": "MB",
}
# printed in the report line where they apply, not gated (see perfbench/README.md)
REPORTED = {"failed_frac": "ratio", "write_amp": "ratio", "space_amp": "ratio"}

TEMPLATES = ["range_skip", "point_in", "star_join", "topk_per_key", "time_travel", "gold_rollup"]
FUNNEL = ["dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs", "search_hybrid",
          "sim_ivf_topk", "text_decontam_bloom", "e2e_curation_funnel_v2"]
KERNELS = ["cosine", "minhash", "simhash", "shingle_hash64", "bloom_probe", "lsh_bands", "vsum",
           "bpe_merge"]
SPARK = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.job_s": "s",
    "spark.driver_gap_s": "s", "spark.task_wait_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_exec_mem_bytes": "bytes",
    "spark.storage_mem_bytes": "bytes", "spark.failed_tasks": "count",
}
PER_LAYER = dict(SPARK)
PER_LAYER.update({
    "silver.run_s": "s", "silver.self_s": "s", "silver.bronze_rows": "rows",
    "silver.changed_rows": "rows", "silver.changed_frac": "ratio", "silver.jobs": "count",
    "chunk.chunk_s": "s", "chunk.chunks_out": "count",
    "merge.read_s": "s", "merge.self_s": "s", "merge.job_s": "s", "merge.jobs": "count",
    "merge.bytes_written": "bytes", "merge.files_written": "count", "merge.files_linked": "count",
    "merge.files_live": "count", "merge.versions_on_disk": "count", "merge.compact_s": "s",
    "merge.compact_bytes_rewritten": "bytes", "merge.ctas_s": "s", "merge.zorder_s": "s",
    "merge.merge_into_s": "s",
    "gold.build_s": "s", "gold.self_s": "s", "gold.jobs": "count", "gold.shuffle_bytes": "bytes",
    "sql.analyze_s": "s", "sql.plan_s": "s", "sql.exec_s": "s", "sql.self_s": "s",
    "sql.files_scanned": "count", "sql.files_pruned_frac": "ratio",
    "sql.rows_out_per_scanned": "ratio", "sql.runtime_filters": "count",
})
PER_LAYER.update({f"sql.{t}.p50_s": "s" for t in TEMPLATES})
PER_LAYER.update({f"queries.{q}.p50_s": "s" for q in FUNNEL})
PER_LAYER.update({f"kernels.{k}.rows_per_s": "rows/s" for k in KERNELS})
PER_LAYER.update({"trace.op_p50_s": "s", "trace.untraced_op_p50_s": "s", "trace.overhead_s": "s",
                  "trace.spans_per_op": "count"})

# source file in a job's call site → layer
FILE_LAYER = {
    "SilverPipeline": "silver", "ChangeDetector": "silver", "Chunker": "chunk",
    "HierarchicalChunker": "chunk", "TableMerge": "merge", "GoldAnalytics": "gold",
    "SqlMerge": "sql", "TopKPerKey": "sql",
}


def call_site_layer(call_site):
    m = re.search(r" at (\w+)\.scala", call_site or "")
    if not m:
        return "spark"
    f = m.group(1)
    if f in FILE_LAYER:
        return FILE_LAYER[f]
    if f.endswith("Queries") or f == "PipelineShared":
        return "queries"
    return "spark"


def ops_of(result, phase):
    return [o for o in result["ops"] if o["phase"] == phase]


def end_to_end(result):
    """Gated metrics and the report-only ones, from the untraced loop."""
    ops = ops_of(result, "untraced")
    lat = [o["latency_s"] for o in ops]
    busy = sum(lat)
    tail, pct, beyond = stats.tail(lat)
    heap = [h["mb"] for h in result["heap_mb"] if h["phase"] == "untraced"]
    c, info = result["counters"], result["info"]
    m = {
        "setup_s": result["session_s"] + stats.median(result["setup_s"]),
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "ops_per_s": len(ops) / busy if busy else 0.0,
        "rows_per_s": sum(o["rows"] for o in ops) / busy if busy else 0.0,
        "heap_peak_mb": max(heap) if heap else 0.0,
        "failed_frac": sum(not o["ok"] for o in ops) / len(ops) if ops else 1.0,
    }
    if c.get("input_bytes"):
        m["write_amp"] = c.get("bytes_written", 0.0) / c["input_bytes"]
    if info.get("live_bytes"):
        m["space_amp"] = info["distinct_bytes"] / info["live_bytes"]
    return m, {"op_tail_percentile": pct, "op_tail_samples_beyond": beyond, "ops": len(ops)}


def per_layer(result, spans, jobs):
    """Per-op layer metrics of the traced loop; layers a workload does not
    reach read 0."""
    ops = ops_of(result, "traced")
    n = max(len(ops), 1)
    c = result["counters"]
    clock = result["clock"]
    by_id = {s["id"]: s for s in spans}
    self_ns = stats.self_times(spans)

    def ancestors(sid):
        out = []
        while sid in by_id:
            out.append(by_id[sid])
            sid = by_id[sid]["parent"]
        return out

    def wall_ms(ns):
        return clock["wall_ms"] + (ns - clock["nano"]) / 1e6

    m = {k: 0.0 for k in PER_LAYER}
    # spark: every job attributed to the span that submitted it
    op_jobs = {}
    peak = 0
    for j in jobs:
        chain = ancestors(j["span"])
        names = {s["layer"] for s in chain}
        opspan = next((s for s in chain if s["layer"] == "op"), None)
        if opspan is None:
            continue
        op_jobs.setdefault(opspan["id"], []).append(j)
        dur = (j["end_ms"] - j["start_ms"]) / 1e3
        m["spark.jobs"] += 1
        m["spark.stages"] += j["stages"]
        m["spark.tasks"] += j["tasks"]
        m["spark.failed_tasks"] += j["failed_tasks"]
        m["spark.job_s"] += dur
        m["spark.task_wait_s"] += j["task_wait_ms"] / 1e3
        m["spark.executor_cpu_s"] += j["cpu_ns"] / 1e9
        m["spark.gc_s"] += j["gc_ms"] / 1e3
        for k in ("input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            m["spark." + k] += j[k]
        peak = max(peak, j["peak_exec_mem_bytes"])
        if call_site_layer(j["call_site"]) == "merge":
            m["merge.jobs"] += 1
            m["merge.job_s"] += dur
        if "silver" in names:
            m["silver.jobs"] += 1
        if "gold" in names:
            m["gold.jobs"] += 1
            m["gold.shuffle_bytes"] += j["shuffle_read_bytes"] + j["shuffle_write_bytes"]
    for s in spans:
        if s["layer"] == "op":
            busy = stats.union_length([(j["start_ms"], j["end_ms"])
                                       for j in op_jobs.get(s["id"], [])])
            m["spark.driver_gap_s"] += (wall_ms(s["end_ns"]) - wall_ms(s["start_ns"]) - busy) / 1e3
    # per-op means of everything summed above; the peak is a maximum
    for k in m:
        m[k] /= n
    m["spark.peak_exec_mem_bytes"] = peak
    m["spark.storage_mem_bytes"] = c.get("spark.storage_mem_bytes", 0.0) / n

    # span times: inclusive per name, self per layer
    def per_op_sum(pred):
        return sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if pred(s)) / n

    for layer in ("silver", "merge", "gold", "sql"):
        m[f"{layer}.self_s"] = sum(self_ns[s["id"]] for s in spans if s["layer"] == layer) / 1e9 / n
    m["silver.run_s"] = per_op_sum(lambda s: s["name"] == "silver.run")
    m["gold.build_s"] = per_op_sum(lambda s: s["name"] == "gold.build")
    m["merge.read_s"] = per_op_sum(lambda s: s["name"] == "merge.read")
    m["merge.compact_s"] = per_op_sum(lambda s: s["name"] == "merge.compact")
    for k in ("analyze", "plan", "exec"):
        m[f"sql.{k}_s"] = per_op_sum(lambda s, k=k: s["name"] == f"sql.{k}")
    for name, prefix in [(t, "sql.") for t in TEMPLATES] + [(q, "queries.") for q in FUNNEL]:
        durs = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["name"] == prefix + name]
        m[f"{prefix}{name}.p50_s"] = stats.median(durs)
    opspans = [s for s in spans if s["layer"] == "op"]
    bronze = sum(s["attrs"].get("bronze_rows", 0.0) for s in opspans)
    changed = sum(s["attrs"].get("changed_rows", 0.0) for s in opspans)
    m["silver.bronze_rows"] = bronze / n
    m["silver.changed_rows"] = changed / n
    m["silver.changed_frac"] = changed / bronze if bronze else 0.0

    # counters the workloads keep themselves
    for k in ("chunk.chunk_s", "chunk.chunks_out", "merge.bytes_written", "merge.files_written",
              "merge.files_linked", "merge.compact_bytes_rewritten"):
        m[k] = c.get(k, 0.0) / n
    for k in ("merge.files_live", "merge.versions_on_disk", "merge.ctas_s", "merge.zorder_s",
              "merge.merge_into_s"):
        m[k] = c.get(k, 0.0)
    if c.get("sql.files_total"):
        m["sql.files_scanned"] = c["sql.files_scanned"] / n
        m["sql.files_pruned_frac"] = 1.0 - c["sql.files_scanned"] / c["sql.files_total"]
    if c.get("sql.rows_scanned"):
        m["sql.rows_out_per_scanned"] = c["sql.rows_out"] / c["sql.rows_scanned"]
    if c.get("sql.star_join_ops"):
        m["sql.runtime_filters"] = c["sql.runtime_filters"] / c["sql.star_join_ops"]
    for k in KERNELS:
        if c.get(f"kernels.{k}.s"):
            m[f"kernels.{k}.rows_per_s"] = c[f"kernels.{k}.rows"] / c[f"kernels.{k}.s"]

    traced = [o["latency_s"] for o in ops]
    untraced = [o["latency_s"] for o in ops_of(result, "untraced")]
    m["trace.op_p50_s"] = stats.median(traced)
    m["trace.untraced_op_p50_s"] = stats.median(untraced)
    m["trace.overhead_s"] = stats.tracing_overhead(traced, untraced)
    m["trace.spans_per_op"] = len(spans) / n
    return m
