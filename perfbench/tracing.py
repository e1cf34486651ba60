"""Spans recorded from outside the program, and Spark event-log folding.

``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
writes them when the run ends. ``instrument_pipeline`` wraps the public
functions a ``GLiNERPipeline`` calls, on one pipeline instance and in
the pipeline module's namespace, and counts the work at each boundary.
``fold_event_log`` turns Spark's uncompressed JSON event log into one
row per completed stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple] = []  # (id, parent, name, start, end)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((sid, parent, name, time.time(), None))
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            s = self.spans[sid]
            self.spans[sid] = (s[0], s[1], s[2], s[3], time.time())

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def totals(self) -> dict[str, dict[str, float]]:
        """name → {"total": Σ duration, "self": Σ duration − Σ child
        durations}."""
        child = [0.0] * len(self.spans)
        for _sid, parent, _n, start, end in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, dict[str, float]] = {}
        for sid, _p, name, start, end in self.spans:
            t = out.setdefault(name, {"total": 0.0, "self": 0.0})
            t["total"] += end - start
            t["self"] += end - start - child[sid]
        return out

    def find(self, name: str) -> list[tuple]:
        return [s for s in self.spans if s[2] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, start, end in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "id": sid,
                            "parent": parent,
                            "name": name,
                            "start": start,
                            "end": end,
                        }
                    )
                    + "\n"
                )


# kernel layer → the public functions whose spans it sums
KERNEL_SPANS = {
    "tokenize": "kernel.tokenization.tokenize_with_offsets",
    "score": "model.encoder.score_spans_tokens",
    "reps": "model.encoder.span_representations_tokens",
    "adjacency": "model.encoder.adjacency_probs",
    "pairs": "model.encoder.pair_relation_logits_packed",
    "span_decode": "kernel.decoding.decode_span_probs",
    "relation_decode": "kernel.decoding.decode_relations",
    "charmap_spans": "kernel.charmap.map_spans_to_char",
    "charmap_relations": "kernel.charmap.format_relations",
    "root": "model.pipeline.predict_triples_batch",
}


class KernelCounts:
    """Counts taken at the wrapped boundaries during one replay."""

    def __init__(self):
        self.words = 0
        self.docs_truncated = 0
        self.words_dropped = 0
        self.spans_scored = 0
        self.cache_lookups = 0
        self.cache_hits = 0
        self.cache_clears = 0
        self.confident_spans = 0
        self.pair_grid = 0  # Σ E·(E−1): directed pairs of confident spans
        self.pairs_scored = 0
        self.probe_s = 0.0  # time spent probing the cache for hit counts


def instrument_pipeline(pipe, tracer: Tracer):
    """Wrap ``pipe``'s kernel calls with spans and counters; returns
    (counts, restore) — call ``restore()`` to unwrap the module names."""
    import numpy as np

    from gliner_spark.model import pipeline as pmod

    counts = KernelCounts()
    max_len = pipe.config.max_len
    enc = pipe.encoder

    score_fn = enc.score_spans_tokens

    def score(tokens, span_idx, label_embs, label_key):
        # the cache probe runs outside the span, and its time is kept
        # so the caller can take it out of the pipeline's self time
        p0 = time.perf_counter()
        cache = enc._score_cache.get(label_key, {})
        before = len(cache)
        L = len(tokens)
        if L:
            starts = np.clip(span_idx[:, 0], 0, L - 1).tolist()
            ends = np.clip(span_idx[:, 1], 0, L - 1).tolist()
            hits = sum((tokens[s], tokens[e]) in cache for s, e in zip(starts, ends))
            if before > 2_000_000:
                hits = 0  # the call clears the cache before its lookups
            counts.cache_hits += hits
            counts.cache_lookups += len(span_idx)
        counts.spans_scored += len(span_idx)
        counts.probe_s += time.perf_counter() - p0
        with tracer.span(KERNEL_SPANS["score"]):
            out = score_fn(tokens, span_idx, label_embs, label_key)
        if len(enc._score_cache.get(label_key, {})) < before:
            counts.cache_clears += 1
        return out

    reps_fn = enc.span_representations_tokens

    def reps(tokens, span_idx):
        e = len(span_idx)
        counts.confident_spans += e
        counts.pair_grid += e * (e - 1)
        with tracer.span(KERNEL_SPANS["reps"]):
            return reps_fn(tokens, span_idx)

    pairs_fn = enc.pair_relation_logits_packed

    def pairs(packed_reps, pair_idx, rel_embs):
        counts.pairs_scored += len(pair_idx)
        with tracer.span(KERNEL_SPANS["pairs"]):
            return pairs_fn(packed_reps, pair_idx, rel_embs)

    tokenize_fn = pmod.tokenize_with_offsets

    def tokenize(text, lang="en"):
        with tracer.span(KERNEL_SPANS["tokenize"]):
            out = tokenize_fn(text, lang)
        n = len(out[0])
        counts.words += n
        if n > max_len:
            counts.docs_truncated += 1
            counts.words_dropped += n - max_len
        return out

    enc.score_spans_tokens = score
    enc.span_representations_tokens = reps
    enc.adjacency_probs = tracer.wrap(KERNEL_SPANS["adjacency"], enc.adjacency_probs)
    enc.pair_relation_logits_packed = pairs
    pipe.predict_triples_batch = tracer.wrap(KERNEL_SPANS["root"], pipe.predict_triples_batch)
    module_names = {
        "tokenize_with_offsets": tokenize,
        "decode_span_probs": tracer.wrap(KERNEL_SPANS["span_decode"], pmod.decode_span_probs),
        "decode_relations": tracer.wrap(KERNEL_SPANS["relation_decode"], pmod.decode_relations),
        "map_spans_to_char": tracer.wrap(KERNEL_SPANS["charmap_spans"], pmod.map_spans_to_char),
        "format_relations": tracer.wrap(KERNEL_SPANS["charmap_relations"], pmod.format_relations),
    }
    saved = {name: getattr(pmod, name) for name in module_names}
    for name, fn in module_names.items():
        setattr(pmod, name, fn)

    def restore():
        for name, fn in saved.items():
            setattr(pmod, name, fn)

    return counts, restore


# ---------------------------------------------------------------------------
# Spark event log


def _stage_row(info: dict, tasks: list[dict], job: dict) -> dict:
    durations = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in tasks]
    metrics = [t.get("Task Metrics") or {} for t in tasks]

    def total(*path):
        s = 0
        for m in metrics:
            v = m
            for p in path:
                v = v.get(p, {}) if isinstance(v, dict) else {}
            s += v if isinstance(v, (int, float)) else 0
        return s

    scopes = []
    for rdd in info.get("RDD Info", []):
        try:
            scopes.append(json.loads(rdd.get("Scope", "{}")).get("name", ""))
        except ValueError:
            pass
    median = statistics.median(durations) if durations else 0
    return {
        "stage_id": info["Stage ID"],
        "attempt": info.get("Stage Attempt ID", 0),
        "job_id": job.get("Job ID"),
        "job_submit_s": job.get("Submission Time", 0) / 1000.0,
        "name": info.get("Stage Name", ""),
        "scopes": sorted(set(s for s in scopes if s)),
        "tasks": len(tasks),
        "wall_s": (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1000.0,
        "run_s": total("Executor Run Time") / 1000.0,
        "task_max_s": max(durations) / 1000.0 if durations else 0.0,
        "task_median_s": median / 1000.0,
        "gc_s": total("JVM GC Time") / 1000.0,
        "spill_bytes": total("Memory Bytes Spilled") + total("Disk Bytes Spilled"),
        "input_bytes": total("Input Metrics", "Bytes Read"),
        "records_read": total("Input Metrics", "Records Read"),
        "output_bytes": total("Output Metrics", "Bytes Written"),
        "records_written": total("Output Metrics", "Records Written"),
        "shuffle_read_bytes": total("Shuffle Read Metrics", "Remote Bytes Read")
        + total("Shuffle Read Metrics", "Local Bytes Read"),
        "shuffle_write_bytes": total("Shuffle Write Metrics", "Shuffle Bytes Written"),
    }


def fold_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """→ (stages, jobs) from the one application log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, dict] = {}
    tasks: dict[tuple, list] = {}
    completed: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = ev
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), []).append(ev)
            elif kind == "SparkListenerStageCompleted":
                completed.append(ev["Stage Info"])
    stages = [
        _stage_row(info, tasks.get((info["Stage ID"], info.get("Stage Attempt ID", 0)), []),
                   stage_job.get(info["Stage ID"], {}))
        for info in completed
    ]
    job_rows = [
        {"job_id": j["Job ID"], "submit_s": j.get("Submission Time", 0) / 1000.0}
        for j in jobs.values()
    ]
    return stages, job_rows


def within(rows: list[dict], key: str, span: tuple) -> list[dict]:
    """Rows whose ``key`` time (epoch seconds) falls inside ``span``, a
    Tracer span tuple."""
    return [r for r in rows if span[3] <= r[key] <= span[4]]


def is_extract_stage(stage: dict) -> bool:
    return any("MapInPandas" in s or "MapInArrow" in s for s in stage["scopes"])
