"""Distributed entity/triple extraction operators.

The whole reference model becomes Arrow-batched ``mapInPandas``
operators (SURVEY.md §2.10) that share one batch loop
(``_map_batches``). Dataflow per executor python worker:

  Arrow batch (url, text[, lang][, spans])
    → pipeline singleton (labels broadcast once; mirrors the
      bi-encoder precompute, gliner/model.py:1627-1656, and the
      executor-singleton ORT session, model.py:682)
    → one kernel call per batch (model.pipeline):
      prepare → score → decode → char map   (gliner/model.py:1333-1381);
      session backends score length-sorted sub-batches, the
      deterministic backend one document at a time
    → the output schema's row formatter: one row per entity / triple

No per-row Python UDFs; no driver-side collect. Output rows carry the
source ``url`` so downstream joins (eval, linking) are equi-joins.

Scale notes (100 TB design point):
* the operator is embarrassingly parallel — zero shuffles by itself;
  callers add one salted exchange up front (plans.skew) to break
  domain/language skew, then ``sortWithinPartitions(length(text))`` for
  length-homogeneous Arrow batches (the cheap 80% of the reference's
  sequence-packing win, infer_packing.py:164-208);
* per-batch memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` × max_len;
* label/relation lists ride the closure (tiny), the encoder weights are
  rebuilt deterministically per worker (hash-seeded) — with the ONNX
  backend they'd ship via ``spark-submit --files`` + SparkFiles.
"""

from __future__ import annotations

import re
from functools import partial
from typing import Iterator, List, Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame

from ..model.pipeline import GLiNERPipeline, PipelineConfig

ENTITY_SCHEMA = (
    "url string, start int, end int, text string, label string, score double"
)
ENTITY_COLUMNS = ["url", "start", "end", "text", "label", "score"]
TRIPLE_SCHEMA = (
    "url string, "
    "subj_start int, subj_end int, subj_text string, subj_label string, "
    "pred string, "
    "obj_start int, obj_end int, obj_text string, obj_label string, "
    "score double"
)
TRIPLE_COLUMNS = [
    "url",
    "subj_start", "subj_end", "subj_text", "subj_label",
    "pred",
    "obj_start", "obj_end", "obj_text", "obj_label",
    "score",
]

_PIPELINE_CACHE: dict = {}


# logical-plan node for df.repartition(n): 'Repartition <n>, true'
# (true = shuffle); coalesce prints ', false' and must NOT match
_SHUFFLE_REPARTITION_RE = re.compile(r"Repartition (\d+), true")
# df.repartition(n, cols): "'RepartitionByExpression ['col], <n>";
# the width suffix is absent when the caller let the session's
# shuffle-partition count apply
_KEYED_REPARTITION_RE = re.compile(r"RepartitionByExpression .*\], (\d+)")


def _ensure_parallelism(df: DataFrame, min_partitions: Optional[int]) -> DataFrame:
    """Round-robin repartition when the scan under-partitions.

    A small/compacted parquet file arrives as ONE input split, which
    serializes the whole extraction onto one core — the inverse of the
    skew problem. Default: bring partitions up to the cluster's
    defaultParallelism (callers doing their own salted repartition pass
    ``min_partitions=0`` to opt out). At 100 TB the scan naturally
    yields ~maxPartitionBytes-sized splits and this is a no-op.
    """
    if min_partitions == 0:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if min_partitions:
        # Caller pinned a target: repartition unconditionally (no probe).
        return df.repartition(target)
    # A repartition/rebalance already on the input's SPINE means an
    # upstream stage (the entry's defensive _read_fanned, a caller's
    # salted repartition) has fanned the data out — adding another
    # exchange here would shuffle the batch a SECOND time for nothing.
    # This double exchange was the round-4 mt_*/small-gate overhead
    # doubling (VERDICT r4, next-round item #4): the inputFiles() probe
    # below sees THROUGH a Repartition node to the 1-file scan and
    # repartitioned again. Logical-plan string probe: no job, no
    # plan→RDD translation. Guard rails (round-5 review):
    #  * spine only — stop scanning at the first Join/Union; a
    #    repartition on a broadcast dimension side says nothing about
    #    THIS input's parallelism;
    #  * width-checked — 'Repartition N, true' with N < target is an
    #    explicit narrow fan (or a shrink-to-1) and must still fan out;
    #    keyed/rebalance forms without a printed width default to the
    #    session's shuffle partitions (≥ target in practice).
    try:
        plan = df._jdf.queryExecution().logical().toString()
        for line in plan.splitlines():
            if "Join" in line or "Union" in line:
                break
            if "RebalancePartitions" in line:
                return df
            m = _SHUFFLE_REPARTITION_RE.search(line)
            if m and int(m.group(1)) >= target:
                return df
            if "RepartitionByExpression" in line:
                m = _KEYED_REPARTITION_RE.search(line)
                if m is None or int(m.group(1)) >= target:
                    return df
    except Exception:
        pass  # plan introspection is best-effort; fall through to probes
    # Default heuristic without converting the plan to an RDD (the old
    # df.rdd.getNumPartitions() probe forced a plan→RDD translation per
    # operator call): count the scan's input files. A small/compacted
    # parquet source shows fewer files than cores → fan out. A 100 TB
    # scan reports ≥ target files and this stays a no-op.
    n_files = len(df.inputFiles())
    if n_files == 0:
        # Non-file source (Kafka/JDBC/in-memory): inputFiles() says
        # nothing about parallelism, and unconditionally repartitioning
        # would force a shuffle — and could SHRINK a many-partition
        # source down to defaultParallelism. Fall back to the actual
        # partition-count probe; these sources are rare on this operator
        # so the one-off plan→RDD translation is acceptable here.
        try:
            if df.rdd.getNumPartitions() < target:
                return df.repartition(target)
        except Exception:
            pass  # e.g. foreachBatch frames that refuse .rdd: leave as-is
        return df
    if n_files < target:
        return df.repartition(target)
    return df


def _factory_key(encoder_factory, encoder_key=None):
    """Cache identity of an encoder factory.

    (module, qualname) alone collides for two lambdas with identical
    qualnames closing over different model paths — the exact usage the
    docstring recommends — silently reusing the wrong cached pipeline.
    So the key is the blake2b of the factory's cloudpickle bytes (the
    closure's captured values are part of the pickle, so two lambdas
    over different paths hash differently). Callers that want a stable,
    human-readable identity (or have an unpicklable factory) pass
    ``encoder_key`` explicitly.
    """
    if encoder_factory is None:
        return None
    if encoder_key is not None:
        return ("explicit", str(encoder_key))
    import hashlib

    try:
        from pyspark import cloudpickle

        blob = cloudpickle.dumps(encoder_factory)
    except Exception:
        import pickle

        try:
            blob = pickle.dumps(encoder_factory)
        except Exception:
            # Unpicklable factory with no explicit key: never share.
            return ("id", id(encoder_factory))
    return ("pickle", hashlib.blake2b(blob, digest_size=16).hexdigest())


def _get_pipeline(
    labels, relations, cfg_kwargs, gazetteer=None, patterns=None,
    encoder_factory=None, encoder_key=None, label_embeddings=None,
) -> GLiNERPipeline:
    """Process-level pipeline singleton keyed by (labels, relations, cfg).

    ``encoder_factory`` is a zero-arg callable returning a scoring
    backend (e.g. ``lambda: OnnxSpanEncoder(model_path=SparkFiles.get(
    "model.onnx"))``); it runs once per worker process per key — the
    executor-singleton pattern, so production factories should load the
    ORT session via the module-level session cache (onnx_backend keeps
    one session per model path). ``encoder_key`` overrides the derived
    factory identity (see _factory_key).
    """
    factory_key = _factory_key(encoder_factory, encoder_key)
    if label_embeddings is not None:
        import hashlib
        import numpy as _np

        emb_key = hashlib.blake2b(
            _np.asarray(label_embeddings, dtype=_np.float64).tobytes(),
            digest_size=8,
        ).hexdigest()
    else:
        emb_key = None
    key = (
        tuple(labels),
        tuple(relations),
        tuple(sorted(cfg_kwargs.items())),
        tuple(sorted((gazetteer or {}).items())),
        tuple(sorted(patterns or [])),
        factory_key,
        emb_key,
    )
    pipe = _PIPELINE_CACHE.get(key)
    if pipe is None:
        pipe = GLiNERPipeline(
            labels,
            relations,
            PipelineConfig(**cfg_kwargs),
            encoder=encoder_factory() if encoder_factory is not None else None,
            gazetteer=gazetteer,
            patterns=patterns,
            label_embeddings=label_embeddings,
        )
        if len(_PIPELINE_CACHE) >= 128:  # bound memory; prompt-mode relex
            _PIPELINE_CACHE.pop(next(iter(_PIPELINE_CACHE)))  # cycles label sets
        _PIPELINE_CACHE[key] = pipe
    return pipe


def _map_batches(
    df: DataFrame, make_pipeline, predict, rows_of, schema: str, columns,
    url_col: str, text_col: str, lang_col: Optional[str],
    extra_cols: Sequence[str] = (), min_partitions: Optional[int] = None,
) -> DataFrame:
    """The one ``mapInPandas`` batch loop behind every extract operator.

    Per Arrow batch: ``predict(pipe, pdf, texts, langs)`` returns one
    output per document, in order, and ``rows_of(url, output)`` formats
    a document's output as rows of ``schema``. The pipeline is built
    once per worker process (``make_pipeline`` goes through the
    ``_get_pipeline`` cache).
    """
    has_lang = lang_col is not None and lang_col in df.columns
    cols = [url_col, text_col] + ([lang_col] if has_lang else []) + list(extra_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pipe = make_pipeline()
        for pdf in batches:
            langs = list(pdf[lang_col]) if has_lang else ["en"] * len(pdf)
            outs = predict(pipe, pdf, list(pdf[text_col]), langs)
            rows = [
                row for url, out in zip(pdf[url_col], outs) for row in rows_of(url, out)
            ]
            yield pd.DataFrame(rows, columns=columns)

    return _ensure_parallelism(df.select(*cols), min_partitions).mapInPandas(
        run, schema
    )


def _entity_rows(extra: Optional[str], url, ents) -> List[tuple]:
    """Row formatter for ENTITY_SCHEMA (+ the ``extra`` column, if any)."""
    return [
        (url, e["start"], e["end"], e["text"], e["label"], float(e["score"]))
        + ((e.get(extra),) if extra else ())
        for e in ents
    ]


def _triple_rows(url, output) -> List[tuple]:
    """Row formatter for TRIPLE_SCHEMA."""
    rows = []
    for r in output[1]:
        h, t = r["head"], r["tail"]
        rows.append((
            url, h["start"], h["end"], h["text"], h["type"], r["relation"],
            t["start"], t["end"], t["text"], t["type"], float(r["score"]),
        ))
    return rows


def extract_entities(
    df: DataFrame,
    labels: Sequence[str],
    threshold: float = 0.5,
    flat_ner: bool = True,
    multi_label: bool = False,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: Optional[str] = "lang",
    gazetteer: Optional[dict] = None,
    min_partitions: Optional[int] = None,
    spans_col: Optional[str] = None,
    return_class_probs: bool = False,
    encoder_factory=None,
    encoder_key: Optional[str] = None,
    label_embeddings=None,
    **cfg_kwargs,
) -> DataFrame:
    """pages(url, text[, lang]) → entities(url, start, end, text, label, score).

    One output row per detected entity; char offsets; ``text`` is the
    byte-identical slice of the source text (the per-row invariant,
    gliner/model.py:1316-1322).

    ``spans_col`` names an ``array<struct<start int, end int>>`` column
    of user-provided char spans: decoding is restricted to those spans
    (D9), with non-token-aligned spans silently dropped (P6).
    ``return_class_probs`` appends a ``class_probs map<string,double>``
    column with the top-k class probabilities per span (D4).
    ``encoder_factory`` selects the scoring backend per worker (e.g. an
    ``OnnxSpanEncoder`` over a session loaded from SparkFiles); the
    default is the deterministic analog.
    ``label_embeddings`` is the bi-encoder precompute (a (C, D) matrix
    from ``encode_labels``, reference model.py:1627-1656): computed once
    on the driver, it ships inside the task closure and — on a
    bi-encoder session backend (OnnxBiEncoderSpanEncoder) — rides every
    ONNX feed as the ``labels_embeddings`` input, so the label encoder
    never runs on the executors at all.
    """
    labels = list(labels)
    cfg = dict(threshold=threshold, flat_ner=flat_ner, multi_label=multi_label)
    cfg.update(cfg_kwargs)
    columns = ENTITY_COLUMNS
    schema = ENTITY_SCHEMA
    if return_class_probs:
        columns = columns + ["class_probs"]
        schema += ", class_probs map<string,double>"

    def predict(pipe, pdf, texts, langs):
        spans = None
        if spans_col is not None:
            spans = [
                None if sp is None else [(int(s["start"]), int(s["end"])) for s in sp]
                for sp in pdf[spans_col]
            ]
        return pipe.predict_entities_batch(
            texts, langs, input_spans_list=spans, return_class_probs=return_class_probs
        )

    return _map_batches(
        df,
        lambda: _get_pipeline(
            labels, [], cfg, gazetteer=gazetteer,
            encoder_factory=encoder_factory, encoder_key=encoder_key,
            label_embeddings=label_embeddings,
        ),
        predict,
        partial(_entity_rows, "class_probs" if return_class_probs else None),
        schema, columns, url_col, text_col, lang_col,
        extra_cols=[spans_col] if spans_col is not None else (),
        min_partitions=min_partitions,
    )


def extract_entities_generative(
    df: DataFrame,
    labels: Sequence[str],
    threshold: float = 0.5,
    decoder_mode: str = "span",
    gen_constraints: Optional[Sequence[str]] = None,
    num_gen_sequences: int = 1,
    max_new_tokens: int = 15,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: Optional[str] = "lang",
    gazetteer: Optional[dict] = None,
    min_partitions: Optional[int] = None,
    **cfg_kwargs,
) -> DataFrame:
    """Entity extraction with GENERATED type labels (M15/D10 — the
    encoder-decoder family, reference model.py:2066-2345).

    ``decoder_mode="span"`` appends ``generated_labels array<string>``
    (``num_gen_sequences`` strings per confident span, trie-constrained
    to ``gen_constraints`` when given); ``decoder_mode="prompt"``
    REPLACES each entity's ``label`` with the label generated for its
    prompt class (``generated_labels`` stays null — the reference's
    prompt mode keeps span_label_map empty, decoder.py:577-581).

    Same distribution story as ``extract_entities``: zero shuffles, one
    Arrow-batched mapInPandas; the generative head is a per-worker
    deterministic singleton and the labels trie is rebuilt from the
    (tiny) constraint list inside the pipeline cache, not shipped as
    state. This family is ONNX-incompatible in the reference
    (model.py:2322-2345) — there is deliberately no encoder_factory
    knob here.
    """
    labels = list(labels)
    gen_constraints = list(gen_constraints) if gen_constraints else None
    cfg = dict(threshold=threshold)
    cfg.update(cfg_kwargs)

    def predict(pipe, pdf, texts, langs):
        return [
            pipe.predict_entities_generative(
                text,
                lang,
                decoder_mode=decoder_mode,
                gen_constraints=gen_constraints,
                num_gen_sequences=num_gen_sequences,
                max_new_tokens=max_new_tokens,
            )
            for text, lang in zip(texts, langs)
        ]

    return _map_batches(
        df,
        lambda: _get_pipeline(labels, [], cfg, gazetteer=gazetteer),
        predict,
        partial(_entity_rows, "generated_labels"),
        ENTITY_SCHEMA + ", generated_labels array<string>",
        ENTITY_COLUMNS + ["generated_labels"],
        url_col, text_col, lang_col,
        min_partitions=min_partitions,
    )


def extract_triples(
    df: DataFrame,
    labels: Sequence[str],
    relations: Sequence[str],
    threshold: float = 0.5,
    adjacency_threshold: Optional[float] = None,
    relation_threshold: Optional[float] = None,
    flat_ner: bool = True,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: Optional[str] = "lang",
    gazetteer: Optional[dict] = None,
    patterns: Optional[Sequence] = None,
    min_partitions: Optional[int] = None,
    encoder_factory=None,
    encoder_key: Optional[str] = None,
    **cfg_kwargs,
) -> DataFrame:
    """pages → triples(url, subj_*, pred, obj_*, score).

    The joint relex route (SURVEY.md §3.2): entity scoring → confident-
    span selection → adjacency → pair scoring → relation decode with
    the reference's post-greedy index-alignment semantics.
    ``encoder_factory`` may return an ``OnnxRelexEncoder`` for the
    session-backed production path.
    """
    labels = list(labels)
    relations = list(relations)
    patterns = [tuple(p) for p in (patterns or [])]
    cfg = dict(
        threshold=threshold,
        adjacency_threshold=adjacency_threshold,
        relation_threshold=relation_threshold,
        flat_ner=flat_ner,
    )
    cfg.update(cfg_kwargs)
    return _map_batches(
        df,
        lambda: _get_pipeline(
            labels, relations, cfg, gazetteer=gazetteer, patterns=patterns,
            encoder_factory=encoder_factory, encoder_key=encoder_key,
        ),
        lambda pipe, pdf, texts, langs: pipe.predict_triples_batch(texts, langs),
        _triple_rows,
        TRIPLE_SCHEMA, TRIPLE_COLUMNS, url_col, text_col, lang_col,
        min_partitions=min_partitions,
    )
