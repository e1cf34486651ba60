"""Reference outputs and the checks that compare a job's output to them.

* KG workloads: the triples an in-process ``predict_triples_batch`` gives
  for the same documents (fresh pipeline, no Spark), in the row shape
  ``operators.extract.extract_triples`` emits.
* ``dedup_ladder``: the DuckDB SQL of ``__spark_entry__.oracle_sql()``
  for the exact, MinHash and SimHash rungs, and a union-find over those
  oracle edges for the component and survivor tables.

Comparisons are by value and by Arrow type. A row that differs marks
every document it names as failed.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TRIPLE_FIELDS = [
    ("url", pa.string()),
    ("subj_start", pa.int32()),
    ("subj_end", pa.int32()),
    ("subj_text", pa.string()),
    ("subj_label", pa.string()),
    ("pred", pa.string()),
    ("obj_start", pa.int32()),
    ("obj_end", pa.int32()),
    ("obj_text", pa.string()),
    ("obj_label", pa.string()),
    ("score", pa.float64()),
]
TRIPLE_COLS = [name for name, _ in TRIPLE_FIELDS]

# the rung tables the ladder commits, with the oracle each one is held to
DEDUP_ORACLES = {
    "exact": "dedup_exact",
    "minhash": "dedup_minhash_lsh",
    "simhash": "dedup_simhash",
}
# columns naming documents in each dedup table (failed-doc attribution)
DEDUP_DOC_COLS = {
    "exact": ("doc_id",),
    "minhash": ("id_a", "id_b"),
    "simhash": ("id_a", "id_b"),
    "components": ("node",),
    "clusters": ("doc_id",),
}


def pipeline_kwargs() -> dict:
    """The extraction settings the KG job and its reference share."""
    import __spark_entry__ as entry

    return dict(
        labels=list(entry.ENT_LABELS),
        relations=list(entry.RELATIONS),
        threshold=0.5,
        gazetteer=dict(entry.GAZ_FULL),
        patterns=[tuple(p) for p in entry.PATTERNS],
    )


def new_pipeline():
    """A pipeline with its own encoder, so no score cache is shared."""
    from gliner_spark.model.encoder import DeterministicEncoder
    from gliner_spark.model.pipeline import GLiNERPipeline, PipelineConfig

    kw = pipeline_kwargs()
    cfg = PipelineConfig(threshold=kw["threshold"])
    return GLiNERPipeline(
        kw["labels"],
        kw["relations"],
        cfg,
        encoder=DeterministicEncoder(cfg.dim, cfg.seed),
        gazetteer=kw["gazetteer"],
        patterns=kw["patterns"],
    )


def triple_rows(urls, per_doc) -> list[tuple]:
    """predict_triples_batch output → extract_triples rows."""
    rows = []
    for url, (_ents, rels) in zip(urls, per_doc):
        for r in rels:
            h, t = r["head"], r["tail"]
            rows.append(
                (
                    url,
                    h["start"], h["end"], h["text"], h["type"],
                    r["relation"],
                    t["start"], t["end"], t["text"], t["type"],
                    float(r["score"]),
                )
            )
    return rows


class KgReference:
    """Reference triples for ``pages``, computed in the background by
    ``procs`` child processes over contiguous slices (the kernel is
    per-document, so the slicing cannot change values). Each child runs
    this file as a script: it reads its slice from ``work_dir`` and
    writes its triples beside it."""

    def __init__(self, pages: pa.Table, procs: int, work_dir: str):
        import subprocess
        import sys

        os.makedirs(work_dir, exist_ok=True)
        n = pages.num_rows
        self._procs, self._outs = [], []
        for k in range(procs):
            a, b = k * n // procs, (k + 1) * n // procs
            if b <= a:
                continue
            src = os.path.join(work_dir, f"pages-{k}.parquet")
            dst = os.path.join(work_dir, f"triples-{k}.parquet")
            pq.write_table(pages.slice(a, b - a).select(["url", "text", "lang"]), src)
            self._procs.append(subprocess.Popen([sys.executable, os.path.abspath(__file__), src, dst]))
            self._outs.append(dst)

    def table(self) -> pa.Table:
        """Wait for the children and return the reference table."""
        codes = [p.wait() for p in self._procs]
        self._procs = []
        if any(codes):
            raise RuntimeError(f"reference workers exited with {codes}")
        return pa.concat_tables([pq.read_table(p) for p in self._outs])

    def close(self) -> None:
        for p in self._procs:
            p.terminate()
        for p in self._procs:
            p.wait()
        self._procs = []


def rows_to_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in TRIPLE_COLS]
    return pa.table(
        {name: pa.array(list(c), typ) for (name, typ), c in zip(TRIPLE_FIELDS, cols)}
    )


def table_rows(table: pa.Table, cols) -> list[tuple]:
    return list(zip(*[table.column(c).to_pylist() for c in cols]))


def read_graph_output(out_dir: str) -> tuple[pa.Table, pa.Schema]:
    """The committed ``chunk=/pred=`` triple table → (rows with ``pred``
    restored from the partition path, schema of one data file)."""
    dataset = ds.dataset(out_dir, format="parquet", partitioning="hive")
    table = dataset.to_table()
    pred = table.column("pred").cast(pa.string())
    table = table.set_column(table.schema.get_field_index("pred"), "pred", pred)
    return table.select(TRIPLE_COLS), pq.read_schema(dataset.files[0])


def failed_keys(got: Counter, want: Counter, key_cols_idx) -> set:
    """Keys (document ids) named by any row of the multiset difference."""
    bad = set()
    for row in (got - want) + (want - got):
        for i in key_cols_idx:
            bad.add(row[i])
    return bad


def check_kg(out_dir: str, manifest_dir: str, ref: Counter, urls: list[str]) -> tuple[set, list[str]]:
    """→ (failed urls, problems). Holds the triple table to ``ref`` by
    value, its data files to the operator's Arrow types, and the
    manifest's ``n_docs`` to the documents attempted."""
    problems = []
    try:
        table, file_schema = read_graph_output(out_dir)
    except (OSError, IndexError, KeyError, pa.ArrowException) as e:
        return set(urls), [f"graph table unreadable: {e!r}"]
    want_types = {n: t for n, t in TRIPLE_FIELDS if n != "pred"}
    got_types = {f.name: f.type for f in file_schema if f.name in want_types}
    if got_types != want_types:
        return set(urls), [f"triple file types {got_types} != {want_types}"]
    bad = failed_keys(Counter(table_rows(table, TRIPLE_COLS)), ref, (0,))
    if bad:
        problems.append(f"{len(bad)} documents' triples differ from the reference")
    manifest = ds.dataset(manifest_dir, format="parquet").to_table()
    n_docs = sum(manifest.column("n_docs").to_pylist())
    if n_docs != len(urls) or set(manifest.column("status").to_pylist()) != {"ok"}:
        problems.append(f"manifest n_docs sums to {n_docs}, attempted {len(urls)}")
        bad = set(urls)
    return bad, problems


# ---------------------------------------------------------------------------
# dedup ladder


def dedup_reference(docs_dir: str) -> dict[str, pa.Table]:
    """Oracle tables for every rung the ladder commits."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(docs_dir, '*.parquet')}')"
        )
        ref = {name: con.sql(oracles[q]).arrow() for name, q in DEDUP_ORACLES.items()}
        n_chars = dict(
            con.sql("SELECT doc_id, n_chars FROM documents").fetchall()
        )
    finally:
        con.close()
    ref["components"], ref["clusters"] = _resolve_reference(ref, n_chars)
    return ref


def _resolve_reference(ref: dict, n_chars: dict) -> tuple[pa.Table, pa.Table]:
    """Union-find over the oracle edges: components (node, min member)
    over nodes on an edge, and per-doc (cluster_id, cluster_size,
    is_survivor) keeping the longest doc, smallest id on ties."""
    ex = ref["exact"]
    edges = [
        (c, d)
        for d, c, dup in table_rows(ex, ("doc_id", "canonical_id", "is_duplicate"))
        if dup
    ]
    for rung in ("minhash", "simhash"):
        edges += table_rows(ref[rung], ("id_a", "id_b"))
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = sorted(parent)
    components = pa.table(
        {
            "node": pa.array(nodes, pa.int64()),
            "component": pa.array([find(n) for n in nodes], pa.int64()),
        }
    )
    cluster_of = {d: (find(d) if d in parent else d) for d in n_chars}
    members: dict = {}
    for d, c in cluster_of.items():
        members.setdefault(c, []).append(d)
    survivor = {
        c: min(ds_, key=lambda d: (-n_chars[d], d)) for c, ds_ in members.items()
    }
    ids = sorted(n_chars)
    clusters = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "cluster_id": pa.array([cluster_of[d] for d in ids], pa.int64()),
            "cluster_size": pa.array([len(members[cluster_of[d]]) for d in ids], pa.int64()),
            "is_survivor": pa.array([survivor[cluster_of[d]] == d for d in ids], pa.bool_()),
        }
    )
    return components, clusters


def check_dedup(out_dir: str, ref: dict[str, pa.Table], doc_ids: list[int]) -> tuple[set, list[str]]:
    """→ (failed doc ids, problems): every committed table equals its
    reference by column name, Arrow type and row multiset."""
    bad: set = set()
    problems = []
    for name, want in ref.items():
        path = os.path.join(out_dir, name)
        try:
            got = ds.dataset(path, format="parquet").to_table()
        except (OSError, pa.ArrowException) as e:
            problems.append(f"{name}: unreadable: {e!r}")
            bad.update(doc_ids)
            continue
        want_types = {f.name: f.type for f in want.schema}
        got_types = {f.name: f.type for f in got.schema}
        if got_types != want_types:
            problems.append(f"{name}: types {got_types} != oracle {want_types}")
            bad.update(doc_ids)
            continue
        cols = list(want_types)
        idx = [cols.index(c) for c in DEDUP_DOC_COLS[name]]
        diff = failed_keys(Counter(table_rows(got, cols)), Counter(table_rows(want, cols)), idx)
        if diff:
            problems.append(f"{name}: rows naming {len(diff)} documents differ from the oracle")
            bad |= diff
    return bad, problems


def _triples_main(src: str, dst: str) -> None:
    pages = pq.read_table(src)
    urls, texts, langs = (pages.column(c).to_pylist() for c in ("url", "text", "lang"))
    rows = triple_rows(urls, new_pipeline().predict_triples_batch(texts, langs))
    pq.write_table(rows_to_table(rows), dst)


if __name__ == "__main__":
    import sys

    _triples_main(*sys.argv[1:])
