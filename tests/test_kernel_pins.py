"""Output pins for every prediction route of the kernel.

Each route runs over the sf0.01 documents (plus an over-long document
that hits truncation and three invalid inputs) and the blake2b digest
of ``repr(output)`` is compared against a pinned value. The pins were
taken from the round-5-verified kernel; they are regression pins, not
parity evidence — parity with the reference lives in
tests/test_reference_parity.py and the distributed-vs-kernel checks in
tests/test_kernel_oracle.py.

Why pins on top of the oracle tests: test_kernel_oracle.py runs the
same kernel on both of its sides, so a change that moves the kernel's
output moves both sides at once and still passes. These digests move.
``repr`` covers offsets, labels, text slices, the exact float64 scores
and the Python types of every value; the digests do not depend on the
process or on ``PYTHONHASHSEED``.

The batch entry points are pinned; the per-document entry points must
return the same lists.
"""

import hashlib

import pandas as pd
import pytest

import __spark_entry__ as entry
from gliner_spark.kernel.packing import InferencePackingConfig
from gliner_spark.kernel.tokenization import tokenize_with_offsets
from gliner_spark.model import ort_testing
from gliner_spark.model.encoder import get_encoder
from gliner_spark.model.pipeline import GLiNERPipeline, PipelineConfig

SF_DIR = "/root/testdata/sf0.01"


def _digest(obj) -> str:
    return hashlib.blake2b(repr(obj).encode("utf-8"), digest_size=16).hexdigest()


@pytest.fixture(scope="module")
def corpus():
    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["text", "lang"])
    texts = list(pdf["text"])
    langs = list(pdf["lang"])
    # one document past max_len=384 words (truncation), then invalid inputs
    texts += [" ".join(texts[:12]), "", "   ", None]
    langs += ["en", "en", None, "en"]
    return texts, langs


def _input_spans(texts, langs):
    """Per-document char spans: every 1- and 2-word span over the first
    words, plus spans that miss a token boundary (dropped by the kernel)."""
    out = []
    for t, lg in zip(texts, langs):
        if not isinstance(t, str):
            out.append(None)
            continue
        _, st, en = tokenize_with_offsets(t, lg or "en")
        n = min(len(st), 12)
        spans = [(st[i], en[i]) for i in range(n)]
        spans += [(st[i], en[i + 1]) for i in range(n - 1)]
        spans += [(st[i] + 1, en[i]) for i in range(0, n, 3)]
        out.append(spans)
    return out


def _embs():
    return get_encoder(64, 42).embed_labels(entry.ENT_LABELS)


def _det(relations=(), gaz=True, patterns=True, **cfg):
    return GLiNERPipeline(
        entry.ENT_LABELS, list(relations), PipelineConfig(**cfg),
        gazetteer=entry.GAZ_FULL if gaz else None,
        patterns=entry.PATTERNS if patterns else None,
    )


# route name → (pipeline builder, "entities" | "triples", batch kwargs)
DETERMINISTIC = {
    "span_entities": (lambda: _det(threshold=0.5), "entities", {}),
    "span_triples": (
        lambda: _det(entry.RELATIONS, threshold=0.5), "triples", {}
    ),
    "span_triples_gcn": (
        lambda: _det(entry.RELATIONS, threshold=0.5, relations_mode="gcn"),
        "triples", {},
    ),
    "span_triples_contextual": (
        lambda: _det(entry.RELATIONS, threshold=0.55, span_mode="conv_mean"),
        "triples", {},
    ),
    "span_triples_gazetteer_scoring": (
        lambda: _det(entry.RELATIONS, threshold=0.5, scoring="gazetteer"),
        "triples", {},
    ),
    "span_entities_rnn": (
        lambda: _det(gaz=False, threshold=0.55, num_rnn_layers=1), "entities", {}
    ),
    "span_entities_class_probs": (
        lambda: _det(threshold=0.5), "entities", {"return_class_probs": True}
    ),
    "span_entities_input_spans": (
        lambda: _det(threshold=0.3), "entities", {"input_spans": True}
    ),
    "token_entities": (
        lambda: _det(threshold=0.4, mode="token"), "entities", {}
    ),
    "token_entities_class_probs": (
        lambda: _det(threshold=0.4, mode="token"), "entities",
        {"return_class_probs": True},
    ),
    "token_entities_input_spans": (
        lambda: _det(threshold=0.3, mode="token"), "entities", {"input_spans": True}
    ),
    "token_triples": (
        lambda: _det(
            entry.RELATIONS, threshold=0.4, adjacency_threshold=0.35,
            relation_threshold=0.2, mode="token",
        ),
        "triples", {},
    ),
    "biencoder_token_entities": (
        lambda: GLiNERPipeline(
            entry.ENT_LABELS, [], PipelineConfig(threshold=0.4, mode="token"),
            label_embeddings=_embs(),
        ),
        "entities", {},
    ),
}

SESSION = {
    "session_span_entities": (
        lambda: GLiNERPipeline(
            entry.ENT_LABELS, [], PipelineConfig(threshold=0.5),
            encoder=ort_testing.fake_span_encoder_factory(),
            gazetteer=entry.GAZ_FULL,
        ),
        "entities", {"return_class_probs": True, "input_spans": True},
    ),
    "session_token_entities": (
        lambda: GLiNERPipeline(
            entry.ENT_LABELS, [], PipelineConfig(threshold=0.4, mode="token"),
            encoder=ort_testing.fake_token_encoder_factory(),
        ),
        "entities", {"return_class_probs": True, "input_spans": True},
    ),
    "session_biencoder_span_entities": (
        lambda: GLiNERPipeline(
            entry.ENT_LABELS, [], PipelineConfig(threshold=0.5),
            encoder=ort_testing.fake_biencoder_span_encoder_factory(),
            label_embeddings=_embs(),
        ),
        "entities", {},
    ),
    "session_biencoder_token_entities": (
        lambda: GLiNERPipeline(
            entry.ENT_LABELS, [], PipelineConfig(threshold=0.4, mode="token"),
            encoder=ort_testing.fake_biencoder_token_encoder_factory(),
            label_embeddings=_embs(),
        ),
        "entities", {},
    ),
    "session_relex_triples": (
        lambda: GLiNERPipeline(
            entry.ENT_LABELS, entry.RELATIONS, PipelineConfig(threshold=0.5),
            encoder=ort_testing.fake_relex_encoder_factory(),
            gazetteer=entry.GAZ_FULL,
        ),
        "triples", {},
    ),
    "session_token_relex_triples": (
        lambda: GLiNERPipeline(
            entry.ENT_LABELS, entry.RELATIONS,
            PipelineConfig(threshold=0.5, mode="token"),
            encoder=ort_testing.fake_token_relex_encoder_factory(),
        ),
        "triples", {},
    ),
    "session_span_gazetteer_scoring": (
        lambda: GLiNERPipeline(
            entry.ENT_LABELS, [], PipelineConfig(threshold=0.5, scoring="gazetteer"),
            encoder=ort_testing.fake_span_encoder_factory(),
            gazetteer=entry.GAZ_FULL,
        ),
        "entities", {},
    ),
}

PINS = {
    "biencoder_token_entities": "6db7084e76c47682270ac005a3f204da",
    "generative_span_prompt": "ab88ece39ae4cc01525d043299cc454b",
    "generative_span_span": "05ab4454fbf255b440ea0cdb64dec54a",
    "generative_token_prompt": "4fc8f3e5fa51a5f4afdef748a57d8bef",
    "generative_token_span": "baa9c5f1dfd986e0d858aa6ae727bc03",
    "session_biencoder_span_entities": "62b39491df279bd7239eb3c1a4e03b3a",
    "session_biencoder_token_entities": "8644919307998db55ce54d3f99d2788d",
    "session_relex_triples": "67ec567a03fe4c98605951487a2ba984",
    "session_span_entities": "41474d71049bb3812dfd90c7ec1e391e",
    "session_span_gazetteer_scoring": "3ea366b5f783b8228bf43d30cf6f9053",
    "session_token_entities": "d9daa3d75165c1174c5cd85cd0bf512f",
    "session_token_relex_triples": "5e9c04a7f9e309d7dd12e1b36865d7eb",
    "span_entities": "f1f4407849e0eee77ecace3847cbfe00",
    "span_entities_class_probs": "1a484bd35183cd0426263e129578832f",
    "span_entities_input_spans": "3c154431ceca357a4b4ca7277ac1e6bc",
    "span_entities_rnn": "d35a6ccd45e03ddc04a717099cfdd91c",
    "span_triples": "91488a6bfaed9c285dd033058af9591e",
    "span_triples_contextual": "e3af0fbfd9f54ae8178b082bc894e779",
    "span_triples_gazetteer_scoring": "d6b1a295543f11d0266cca39892d794b",
    "span_triples_gcn": "009bca566ed2a766dd2d2415d31016f1",
    "token_entities": "6db7084e76c47682270ac005a3f204da",
    "token_entities_class_probs": "04fd0086ca88b948f34c5b181c577365",
    "token_entities_input_spans": "35945b2c540a36bfdd6429c2c54a0e11",
    "token_triples": "798a728cc1a525da8960c8dd5290683e",
}


def _run(pipe, kind, kw, texts, langs, per_doc=True):
    """(batch output, per-document output — the batch output again
    when ``per_doc`` is off)."""
    spans = _input_spans(texts, langs) if kw.get("input_spans") else None
    if kind == "triples":
        batch = pipe.predict_triples_batch(texts, langs)
        if not per_doc:
            return batch, batch
        single = [pipe.predict_triples(t, lg or "en") for t, lg in zip(texts, langs)]
        return batch, single
    rcp = kw.get("return_class_probs", False)
    batch = pipe.predict_entities_batch(
        texts, langs, input_spans_list=spans, return_class_probs=rcp
    )
    if not per_doc:
        return batch, batch
    single = [
        pipe.predict_entities(
            t, lg or "en", input_spans=sp, return_class_probs=rcp
        )
        for t, lg, sp in zip(texts, langs, spans or [None] * len(texts))
    ]
    return batch, single


def _check(name, batch, single):
    assert batch == single, f"{name}: batch and per-document outputs differ"
    n_out = sum(len(r[1]) if isinstance(r, tuple) else len(r) for r in batch)
    assert n_out >= 50, f"{name}: only {n_out} outputs — a vacuous pin"
    assert _digest(batch) == PINS[name], f"{name}: output moved"


@pytest.mark.parametrize("name", sorted(DETERMINISTIC))
def test_deterministic_route(name, corpus):
    build, kind, kw = DETERMINISTIC[name]
    _check(name, *_run(build(), kind, kw, *corpus))


@pytest.mark.parametrize("packed", [False, True], ids=["unpacked", "packed"])
@pytest.mark.parametrize("name", sorted(SESSION))
def test_session_route(name, packed, corpus):
    build, kind, kw = SESSION[name]
    pipe = build()
    if packed:
        pipe.configure_inference_packing(
            InferencePackingConfig(max_length=96, streams_per_batch=2)
        )
    # packing only regroups session calls; the per-document entry
    # points are checked once, on the unpacked variant
    _check(name, *_run(pipe, kind, kw, *corpus, per_doc=not packed))


GENERATIVE = {
    f"generative_{mode}_{decoder_mode}": (mode, decoder_mode)
    for mode in ("span", "token")
    for decoder_mode in ("span", "prompt")
}


@pytest.mark.parametrize("name", sorted(GENERATIVE))
def test_generative_route(name, corpus):
    mode, decoder_mode = GENERATIVE[name]
    thr = 0.5 if mode == "span" else 0.35
    pipe = _det(threshold=thr, mode=mode, patterns=False)
    texts, langs = corpus
    out = [
        pipe.predict_entities_generative(
            t, lg or "en", decoder_mode=decoder_mode,
            gen_constraints=entry.GEN_CONSTRAINTS, num_gen_sequences=2,
        )
        for t, lg in zip(texts, langs)
    ]
    assert sum(map(len, out)) >= 50, f"{name}: a vacuous pin"
    assert _digest(out) == PINS[name], f"{name}: output moved"
