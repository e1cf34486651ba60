"""Per-layer metrics of the traced run.

Stage layers fold the traced iteration's Spark event log: each job is
attributed to the innermost span (recorded around a public call) that
was open when the job was submitted. Kernel layers come from an
in-process replay of ``GLiNERPipeline.predict_triples_batch`` over the
workload's documents with every kernel call wrapped (tracing.py).
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import reference
import tracing

# name → unit, in print order; BENCHMARK.json lists the same names
METRICS = {
    "sources.scan_s": "s",
    "sources.records_read": "count",
    "plans.skew.exchange_bytes": "bytes",
    "plans.skew.task_max_over_median": "ratio",
    "plans.manifest.chunk_overhead_s": "s",
    "plans.manifest.jobs": "count",
    "operators.extract.stage_s": "s",
    "operators.extract.rows_out": "count",
    "sinks.graph.write_s": "s",
    "sinks.graph.bytes_written": "bytes",
    "sinks.graph.files_written": "count",
    "operators.dedup.ladder_wall_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.simhash_s": "s",
    "operators.dedup.shuffle_bytes": "bytes",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_over_candidates": "ratio",
    "operators.canonicalize.cc_s": "s",
    "operators.canonicalize.rounds": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.dedup_gc_s": "s",
    "spark.dedup_spill_bytes": "bytes",
    "kernel.tokenization.self_s": "s",
    "kernel.tokenization.words": "count",
    "kernel.truncation.docs_truncated": "count",
    "kernel.truncation.words_dropped": "count",
    "model.encoder.score_s": "s",
    "model.encoder.spans_scored": "count",
    "model.encoder.score_cache_hit_ratio": "ratio",
    "model.encoder.cache_clears": "count",
    "model.encoder.relex_s": "s",
    "model.pipeline.confident_spans": "count",
    "model.pipeline.pairs_scored": "count",
    "model.pipeline.pairs_over_e2": "ratio",
    "model.pipeline.triples_over_pairs": "ratio",
    "kernel.decoding.span_decode_s": "s",
    "kernel.decoding.relation_decode_s": "s",
    "kernel.charmap.self_s": "s",
    "model.pipeline.self_s": "s",
    "trace.overhead_s": "s",
    "scaling_eff_1to4": "ratio",
    "failed_frac": "ratio",
}

TRACES_KEEP = 6


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _span_total(tracer, name: str) -> float:
    return sum(s[4] - s[3] for s in tracer.find(name))


def _in_spans(rows: list[dict], key: str, spans: list[tuple]) -> list[dict]:
    return [r for s in spans for r in tracing.within(rows, key, s)]


def kg_stage_metrics(traced) -> tuple[dict, list[dict]]:
    tracer = traced.tracer
    stages, jobs = tracing.fold_event_log(traced.event_dir)
    m: dict = {}
    scan = tracer.find("sources.read_pages")
    m["sources.scan_s"] = _span_total(tracer, "sources.read_pages")
    m["sources.records_read"] = sum(s["records_read"] for s in _in_spans(stages, "job_submit_s", scan))
    manifest = tracer.find("plans.manifest.run")
    man_stages = _in_spans(stages, "job_submit_s", manifest)
    extract = [s for s in man_stages if tracing.is_extract_stage(s)]
    m["plans.skew.exchange_bytes"] = sum(s["shuffle_write_bytes"] for s in man_stages)
    m["plans.skew.task_max_over_median"] = max(
        (_ratio(s["task_max_s"], s["task_median_s"]) for s in extract), default=0.0
    )
    m["operators.extract.stage_s"] = sum(s["wall_s"] for s in extract)
    m["operators.extract.rows_out"] = sum(s["records_written"] for s in extract)
    m["plans.manifest.jobs"] = len(_in_spans(jobs, "submit_s", manifest))
    m["plans.manifest.chunk_overhead_s"] = (
        _span_total(tracer, "plans.manifest.run") - m["operators.extract.stage_s"]
    )
    sink = tracer.find("sinks.graph.write_graph_table")
    m["sinks.graph.write_s"] = _span_total(tracer, "sinks.graph.write_graph_table")
    m["sinks.graph.bytes_written"] = sum(s["output_bytes"] for s in _in_spans(stages, "job_submit_s", sink))
    m["sinks.graph.files_written"] = traced.probe.get("sink_files", 0)
    job_stages = _in_spans(stages, "job_submit_s", tracer.find("job"))
    m["spark.gc_s"] = sum(s["gc_s"] for s in job_stages)
    m["spark.spill_bytes"] = sum(s["spill_bytes"] for s in job_stages)
    return m, stages


def dedup_stage_metrics(bench, traced) -> tuple[dict, list[dict]]:
    tracer = traced.tracer
    stages, jobs = tracing.fold_event_log(traced.event_dir)
    m: dict = {"operators.dedup.ladder_wall_s": traced.wall_s}
    rungs = {
        "operators.dedup.exact_s": "operators.dedup.exact_duplicates",
        "operators.dedup.minhash_s": "operators.dedup.minhash_lsh_pairs",
        "operators.dedup.simhash_s": "operators.dedup.simhash_pairs",
    }
    shuffle = 0
    for metric, span_name in rungs.items():
        m[metric] = _span_total(tracer, span_name)
        shuffle += sum(
            s["shuffle_write_bytes"] for s in _in_spans(stages, "job_submit_s", tracer.find(span_name))
        )
    m["operators.dedup.shuffle_bytes"] = shuffle
    cc = tracer.find("operators.canonicalize.connected_components")
    m["operators.canonicalize.cc_s"] = _span_total(tracer, "operators.canonicalize.connected_components")
    m["operators.canonicalize.rounds"] = len(_in_spans(jobs, "submit_s", cc))
    candidates = minhash_candidates(bench.inp.docs_dir)
    m["operators.dedup.candidate_pairs"] = candidates
    m["operators.dedup.verified_over_candidates"] = _ratio(bench.dedup_ref()["minhash"].num_rows, candidates)
    job_stages = _in_spans(stages, "job_submit_s", tracer.find("job"))
    m["spark.dedup_gc_s"] = sum(s["gc_s"] for s in job_stages)
    m["spark.dedup_spill_bytes"] = sum(s["spill_bytes"] for s in job_stages)
    return m, stages


def minhash_candidates(docs_dir: str) -> int:
    """LSH band-collision pairs before Jaccard verification: the
    ``cand`` CTE of the MinHash oracle, which the check holds the
    operator's verified pairs to."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["dedup_minhash_lsh"]
    head = sql[: sql.index("inter AS (")].rstrip().rstrip(",")
    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(docs_dir, '*.parquet')}')"
        )
        return con.sql(head + "\nSELECT count(*) FROM cand").fetchone()[0]
    finally:
        con.close()


def kernel_metrics(bench, tracer) -> tuple[dict, set]:
    """In-process replay → (kernel metrics, urls whose replayed triples
    differ from the reference)."""
    table = bench.inp.table
    urls = table.column("url").to_pylist()
    pipe = reference.new_pipeline()
    counts, restore = tracing.instrument_pipeline(pipe, tracer)
    try:
        with tracer.span("replay"):
            per_doc = pipe.predict_triples_batch(
                table.column("text").to_pylist(), table.column("lang").to_pylist()
            )
    finally:
        restore()
    rows = reference.triple_rows(urls, per_doc)
    failed = reference.failed_keys(Counter(rows), bench.inp.ref(), (0,))
    t = tracer.totals()
    k = tracing.KERNEL_SPANS

    def total(key):
        return t.get(k[key], {}).get("total", 0.0)

    def self_(key):
        return t.get(k[key], {}).get("self", 0.0)

    m = {
        "kernel.tokenization.self_s": self_("tokenize"),
        "kernel.tokenization.words": counts.words,
        "kernel.truncation.docs_truncated": counts.docs_truncated,
        "kernel.truncation.words_dropped": counts.words_dropped,
        "model.encoder.score_s": total("score"),
        "model.encoder.spans_scored": counts.spans_scored,
        "model.encoder.score_cache_hit_ratio": _ratio(counts.cache_hits, counts.cache_lookups),
        "model.encoder.cache_clears": counts.cache_clears,
        "model.encoder.relex_s": total("reps") + total("adjacency") + total("pairs"),
        "model.pipeline.confident_spans": counts.confident_spans,
        "model.pipeline.pairs_scored": counts.pairs_scored,
        "model.pipeline.pairs_over_e2": _ratio(counts.pairs_scored, counts.pair_grid),
        "model.pipeline.triples_over_pairs": _ratio(len(rows), counts.pairs_scored),
        "kernel.decoding.span_decode_s": total("span_decode"),
        "kernel.decoding.relation_decode_s": total("relation_decode"),
        "kernel.charmap.self_s": self_("charmap_spans") + self_("charmap_relations"),
        "model.pipeline.self_s": self_("root") - counts.probe_s,
    }
    return m, failed


def collect(bench, traced, untraced, local1, dedup) -> tuple[dict, set]:
    """All per-layer metrics (0 where the run has no such layer: the
    dedup and scaling figures come from kg_short's traced run only),
    with spans and stage tables written under .perfbench_work/traces/.
    → (metrics, urls whose replayed triples differ from the reference)."""
    m = {name: 0.0 for name in METRICS}
    stages = {}
    if not traced.problems:
        part, stages["kg"] = kg_stage_metrics(traced)
        m.update(part)
    if dedup is not None and not dedup.problems:
        part, stages["dedup"] = dedup_stage_metrics(bench, dedup)
        m.update(part)
    km, failed = kernel_metrics(bench, traced.tracer)
    m.update(km)
    m["trace.overhead_s"] = traced.wall_s - untraced.wall_s
    if local1 is not None:
        m["scaling_eff_1to4"] = _ratio(local1.wall_s, bench.cores * untraced.wall_s)

    out = os.path.join(bench.work, "traces", f"{bench.workload}-s{bench.seed}-{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    for it in (traced, dedup):
        if it is None:
            continue
        it.tracer.write(os.path.join(out, f"spans_{it.job}.jsonl"))
        with open(os.path.join(out, f"stages_{it.job}.json"), "w") as f:
            json.dump(stages.get(it.job, []), f, indent=1)
        shutil.rmtree(it.run_dir, ignore_errors=True)
    _prune(os.path.dirname(out))
    return {name: (m[name], METRICS[name]) for name in METRICS if name != "failed_frac"}, failed


def _prune(root: str) -> None:
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
    for d in dirs[:-TRACES_KEEP]:
        shutil.rmtree(d, ignore_errors=True)
