"""Tests of the benchmark's own code (inputs, spec, metric names, checks).

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
for p in (BENCH_DIR, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs  # noqa: E402
import layers  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)
with open(os.path.join(BENCH_DIR, "spec.json")) as f:
    SPEC = json.load(f)
GAZ_TERMS = sorted(__import__("__spark_entry__").GAZ_FULL)


def _files_bytes(table, d):
    inputs.write_files(table, d, files=4)
    return [(d / n).read_bytes() for n in sorted(os.listdir(d))]


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a = _files_bytes(inputs.make_input(workload, 7, GAZ_TERMS), tmp_path / "a")
    b = _files_bytes(inputs.make_input(workload, 7, GAZ_TERMS), tmp_path / "b")
    c = _files_bytes(inputs.make_input(workload, 8, GAZ_TERMS), tmp_path / "c")
    assert a == b
    assert a != c


def test_every_workload_is_specified():
    names = [w["name"] for w in BENCHMARK["workloads"]]
    assert names == list(run.WORKLOADS) == list(SPEC["workloads"])
    for name, spec in SPEC["workloads"].items():
        assert spec["docs"] == inputs.N_DOCS[name]


def _word_counts(table):
    return [len(t.split(" ")) for t in table.column("text").to_pylist()]


def test_zipf_generator_matches_spec():
    spec = SPEC["workloads"]["kg_long_zipf"]
    table = inputs.make_input("kg_long_zipf", 3, GAZ_TERMS)
    assert table.num_rows == spec["docs"]
    lengths = _word_counts(table)
    lo, hi = spec["words_per_doc"]
    assert lo <= min(lengths) and max(lengths) <= hi
    assert abs(sum(lengths) / len(lengths) - (lo + hi) / 2) < 0.1 * (hi - lo)
    words = [w for t in table.column("text").to_pylist() for w in t.split(" ")]
    planted = sum(w in GAZ_TERMS for w in words) / len(words)
    assert abs(planted - spec["planted_term_rate"]) < 0.005
    vocab = inputs.zipf_vocabulary(3, exclude=GAZ_TERMS)
    assert len(vocab) == len(set(vocab)) == spec["vocabulary"]
    assert not set(vocab) & set(GAZ_TERMS)
    types = set(words) - set(GAZ_TERMS)
    assert types <= set(vocab)
    # Zipf(s=1): the top-ranked word takes 1/H(V) of the unplanted words
    counts = Counter(w for w in words if w not in GAZ_TERMS)
    harmonic = sum(1.0 / r for r in range(1, spec["vocabulary"] + 1))
    top_share = counts[vocab[0]] / sum(counts.values())
    assert abs(top_share - 1 / harmonic) < 0.01
    assert spec["zipf_s"] == inputs.ZIPF_S


def test_sf01_replicas_match_spec():
    spec = SPEC["workloads"]["kg_short"]
    table = inputs.make_input("kg_short", 5, GAZ_TERMS)
    assert table.num_rows == spec["docs"]
    lengths = _word_counts(table)
    lo, hi = spec["words_per_doc"]
    assert lo <= min(lengths) and max(lengths) <= hi
    words = [w for t in table.column("text").to_pylist() for w in t.split(" ")]
    assert len(set(words)) == spec["vocabulary"]
    planted = sum(w in GAZ_TERMS for w in words) / len(words)
    assert abs(planted - spec["planted_term_rate"]) < 0.005


def test_replicas_keep_exact_duplicates():
    base = inputs.load_sf01()
    texts = base.column("text").to_pylist()
    n_dup = len(texts) - len(set(texts))
    table = inputs.permuted_replicas(9, len(texts), base)
    out = table.column("text").to_pylist()
    assert len(out) - len(set(out)) == n_dup
    assert out != texts


def _units(section):
    return {m["name"]: m["unit"] for m in BENCHMARK[section]}


def test_printed_metrics_are_declared_with_units():
    bench = run.Bench.__new__(run.Bench)
    bench.inp = SimpleNamespace(table=pa.table({"x": [1, 2]}))
    its = [SimpleNamespace(setup_s=1.0, wall_s=2.0, peak_rss_mb=3.0)] * 3
    e2e = {name: unit for name, (_v, unit) in run.Bench.end_to_end(bench, its).items()}
    assert e2e == _units("end_to_end")
    assert layers.METRICS == _units("per_layer")
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])


def _write_graph_table(rows, out_dir, manifest_dir, n_docs):
    """Lay rows out the way RunManifest.run(extra_partition_cols=("pred",))
    commits them, with a one-chunk manifest."""
    table = reference.rows_to_table(rows)
    for pred in sorted(set(table.column("pred").to_pylist())):
        part = table.filter(pa.compute.equal(table.column("pred"), pred)).drop(["pred"])
        d = os.path.join(out_dir, "chunk=0", f"pred={pred}")
        os.makedirs(d)
        pq.write_table(part, os.path.join(d, "part-0.parquet"))
    os.makedirs(manifest_dir)
    pq.write_table(
        pa.table({"run_id": ["r"], "chunk": pa.array([0], pa.int32()), "n_docs": [n_docs],
                  "n_rows": [table.num_rows], "wall_ms": [1], "status": ["ok"]}),
        os.path.join(manifest_dir, "part-0.parquet"),
    )


def test_dropped_doc_fails_the_kg_check(tmp_path):
    pages = inputs.with_url(inputs.permuted_replicas(11, 6))
    urls = pages.column("url").to_pylist()
    ref_rows = reference.triple_rows(
        urls,
        reference.new_pipeline().predict_triples_batch(
            pages.column("text").to_pylist(), pages.column("lang").to_pylist()
        ),
    )
    ref = Counter(ref_rows)
    _write_graph_table(ref_rows, tmp_path / "ok", tmp_path / "ok_m", len(urls))
    assert reference.check_kg(str(tmp_path / "ok"), str(tmp_path / "ok_m"), ref, urls) == (set(), [])

    victim = ref_rows[0][0]
    kept = [r for r in ref_rows if r[0] != victim]
    _write_graph_table(kept, tmp_path / "bad", tmp_path / "bad_m", len(urls))
    failed, problems = reference.check_kg(str(tmp_path / "bad"), str(tmp_path / "bad_m"), ref, urls)
    assert failed == {victim} and problems


def test_manifest_short_of_docs_fails_the_kg_check(tmp_path):
    rows = [("0", 0, 4, "spark", "technology", "executes", 6, 10, "scan", "operation", 0.93)]
    _write_graph_table(rows, tmp_path / "o", tmp_path / "m", n_docs=1)
    failed, problems = reference.check_kg(str(tmp_path / "o"), str(tmp_path / "m"), Counter(rows), ["0", "1"])
    assert failed == {"0", "1"} and problems


def test_dropped_doc_fails_the_dedup_check(tmp_path):
    docs_dir = tmp_path / "docs"
    inputs.write_files(inputs.with_url(inputs.permuted_replicas(4, 60)), str(docs_dir), files=2)
    ref = reference.dedup_reference(str(docs_dir))
    ids = ref["clusters"].column("doc_id").to_pylist()
    for name, table in ref.items():
        os.makedirs(tmp_path / "out" / name)
        pq.write_table(table, str(tmp_path / "out" / name / "part-0.parquet"))
    assert reference.check_dedup(str(tmp_path / "out"), ref, ids) == (set(), [])

    clusters = ref["clusters"]
    victim = ids[0]
    pq.write_table(clusters.slice(1), str(tmp_path / "out" / "clusters" / "part-0.parquet"))
    failed, problems = reference.check_dedup(str(tmp_path / "out"), ref, ids)
    assert failed == {victim} and problems


def test_dedup_check_is_type_strict(tmp_path):
    docs_dir = tmp_path / "docs"
    inputs.write_files(inputs.with_url(inputs.permuted_replicas(4, 30)), str(docs_dir), files=1)
    ref = reference.dedup_reference(str(docs_dir))
    ids = ref["clusters"].column("doc_id").to_pylist()
    for name, table in ref.items():
        if name == "exact":
            table = table.set_column(2, "canonical_id", table.column("canonical_id").cast(pa.int32()))
        os.makedirs(tmp_path / "out" / name)
        pq.write_table(table, str(tmp_path / "out" / name / "part-0.parquet"))
    failed, problems = reference.check_dedup(str(tmp_path / "out"), ref, ids)
    assert failed == set(ids) and "exact" in problems[0]
