"""Per-layer metrics of a traced run.

``PER_LAYER`` is the fixed list every traced run reports, whatever the
workload: a layer the workload does not call reads 0. Time metrics are
the median over traced iterations of the per-iteration total; counts are
per iteration too. ``SETUP_LAYERS`` are read once, on the set-up load.
"""

from __future__ import annotations

from collections import defaultdict

from . import tracing
from .workloads import QUERIES, CorpusDedup

ETL_LAYERS = ("sources.fetch", "etl_job.resync_build", "io.resync_write")
DEDUP_LAYERS = ("dedup.exact", "dedup.ngram_jaccard", "dedup.minhash_lsh",
                "dedup.apply", "text.quality_tokenize")
SPARK_SUMS = ("python_boot_s", "python_compute_s", "shuffle_bytes",
              "spill_bytes", "fetch_wait_s", "jobs", "stages", "tasks",
              "failed_tasks")

# reported by every traced run of a workload BENCHMARK.json lists
PER_LAYER: dict[str, str] = {
    "etl_job.full_build_s": "s",
    "etl_job.resync_build_s": "s",
    "etl_job.catalyst_s": "s",
    "etl_job.rows_in": "count",
    "etl_job.scd2_opened": "count",
    "etl_job.scd2_closed": "count",
    "etl_job.quarantined": "count",
    "io.full_write_s": "s",
    "io.resync_write_s": "s",
    "io.rows_written": "count",
    "io.bytes_written": "B",
    "io.files_written": "count",
    "io.commit_s": "s",
    "io.write_amplification": "ratio",
    "sources.fetch_s": "s",
    "sources.requests": "count",
    "sources.failed_requests": "count",
    "sources.payload_bytes": "B",
    **{f"queries.{q}.{part}_s": "s" for q in QUERIES for part in ("build", "catalyst", "exec")},
    "spark.python_boot_s": "s",
    "spark.python_compute_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.fetch_wait_s": "s",
    "spark.peak_exec_memory_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.core_util": "ratio",
    "session.start_s": "s",
    "session.warm_iters_s": "s",
    "session.cached_relations_after": "count",
    "session.persistent_rdds_after": "count",
    "peak_rss_mb": "MiB",
    "fail_ratio": "ratio",
    **{f"{layer}.self_s": "s" for layer in ETL_LAYERS},
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}
# reported, in addition, by traced corpus_dedup runs
CORPUS_LAYERS: dict[str, str] = {
    "dedup.exact_s": "s",
    "dedup.ngram_jaccard_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.apply_s": "s",
    "text.quality_tokenize_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.pairs": "count",
    "dedup.lsh_precision": "ratio",
    **{f"{layer}.self_s": "s" for layer in DEDUP_LAYERS},
}
# measured once per traced run, on the set-up full load (a cold JVM)
SETUP_LAYERS = ("etl_job.full_build_s", "io.full_write_s")


def layer_metrics(wl, tracer, harvest, walls, info, gauges, cores) -> dict:
    spans = tracer.spans
    by_sid = {s.sid: s for s in spans}
    per_iter: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def top(sp):
        while sp.parent is not None and by_sid[sp.parent].name not in ("iteration", "setup"):
            sp = by_sid[sp.parent]
        return sp

    roots = {s.iteration: s for s in spans if s.name == "iteration"}
    for sp in spans:
        it = per_iter[sp.iteration]
        nums = harvest.by_span.get(sp.sid, {})
        for k in SPARK_SUMS:
            it[f"spark.{k}"] += nums.get(k, 0.0)
        it["spark.peak_exec_memory_bytes"] = max(
            it["spark.peak_exec_memory_bytes"], nums.get("peak_exec_memory_bytes", 0.0))
        it["executor_run_s"] += nums.get("executor_run_s", 0.0)
        if sp.name in ("iteration", "setup"):
            continue
        layer = top(sp)
        dur = sp.end - sp.start
        if sp is layer:
            it["covered_s"] += dur
            it[f"{sp.name}_s"] += dur
            it[f"{sp.name}.self_s"] += tracing.self_time(sp, spans, harvest.sql_spans)
        for key, value in sp.counts.items():
            it[f"{layer.name.split('.')[0]}.{key}"] += value
        if layer.name.startswith(("etl_job.", "io.")):
            it["etl_job.catalyst_s"] += nums.get("catalyst_s", 0.0)
        if layer.name.startswith("io."):
            for k in ("rows_written", "bytes_written", "files_written", "commit_s"):
                it[f"io.{k}"] += nums.get(k, 0.0)
        if layer.name.startswith("queries."):
            cat = nums.get("catalyst_s", 0.0)
            it[f"{layer.name}.catalyst_s"] += cat
            if sp.name in ("build", "exec"):
                it[f"{layer.name}.{sp.name}_s"] += dur - cat

    names = dict(PER_LAYER, **(CORPUS_LAYERS if isinstance(wl, CorpusDedup) else {}))
    out: dict[str, float] = {k: 0.0 for k in names}
    iters = [per_iter[i] for i in sorted(roots)]
    for k in names:
        vals = [it[k] for it in iters if k in it]
        if vals:
            out[k] = tracing.median(vals)
    for k in SETUP_LAYERS:
        out[k] = per_iter[-1].get(k, 0.0)
    out["spark.core_util"] = tracing.median(
        it["executor_run_s"] / ((roots[i].end - roots[i].start) * cores)
        for i, it in zip(sorted(roots), iters)
    )
    out["trace.coverage"] = tracing.median(
        it["covered_s"] / (roots[i].end - roots[i].start) for i, it in zip(sorted(roots), iters)
    )
    out["trace.overhead_s"] = tracing.median(walls[True]) - tracing.median(walls[False])
    out["io.write_amplification"] = out["io.bytes_written"] / max(wl.input_bytes, 1)
    for k, v in wl.counts.items():
        out[k] = v
    if isinstance(wl, CorpusDedup):
        out["dedup.lsh_candidates"] = wl.lsh_candidates()
        out["dedup.lsh_precision"] = out["dedup.pairs"] / max(out["dedup.lsh_candidates"], 1)
    out["session.start_s"] = info["session.start_s"]
    out["session.warm_iters_s"] = info["session.warm_iters_s"]
    out["session.cached_relations_after"] = gauges.max_increase["cached_relations"]
    out["session.persistent_rdds_after"] = gauges.max_increase["persistent_rdds"]
    out["peak_rss_mb"] = info["peak_rss_mb"]
    out["fail_ratio"] = info["fail_ratio"]
    return {k: {"value": v, "unit": names[k]} for k, v in out.items()}
