"""End-to-end inference pipeline (the kernel inside every Arrow batch).

One batch loop runs the reference's ``inference`` flow
(gliner/model.py:1384-1491) and its relex flow
(gliner/model.py:2404-2613) as four stages:

  prepare   valid-text filter → word tokenize (+ offset maps) → truncate
            to max_len; once per document
  score     per document: span-grid probabilities (L, K, C) in span
            mode or start/end/inside flags (W, C, 3) in token mode, plus
            the relex candidates (rel_idx, rel_probs) for triples. Only
            this stage depends on the backend:
            * ONNX-session backends score length-sorted sub-batches, one
              session call each (span, token, relex, token-relex and the
              bi-encoder graphs); relex runs in-graph;
            * the deterministic backend scores one document at a time
              (markerV0 score cache, contextual span modes, or
              gazetteer-only) and runs the relex tail here: confident
              spans → adjacency → pattern boosts → pair×relation scores.
            The gazetteer overlay lifts span-grid scores before the tail.
  decode    greedy span decode (span grid) or min-rule span assembly
            (token flags), then relation decode with the reference's
            pre-/post-greedy index-alignment quirk
  char-map  word spans → char offsets and relation dicts

A single document is a batch of one. The generative routes reuse
prepare and score and add only their label-generation step.

Pure Python/numpy — no Spark imports — so the identical code path is
unit-testable off-cluster and callable from ``mapInPandas``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, Iterator, List, NamedTuple, Optional, Sequence, Tuple

import numpy as np

from ..kernel.tokenization import tokenize_with_offsets
from ..kernel.spans import make_mapping, span_idx_array
from ..kernel.decoding import (
    decode_candidate_span_probs,
    decode_relations,
    decode_span_probs,
    decode_token_scores,
    extract_spans_from_token_probs,
    sigmoid,
)
from ..kernel.charmap import format_relations, map_spans_to_char
from .encoder import DeterministicEncoder, get_encoder
from .generative import (
    GenerativeLabelDecoder,
    LabelTokenizer,
    build_span_label_map,
    updated_id_to_classes,
)



@dataclass
class PipelineConfig:
    """Knobs pinned to the reference defaults (gliner/config.py:17,27,28)."""

    max_width: int = 12
    max_len: int = 384
    threshold: float = 0.5
    flat_ner: bool = True
    multi_label: bool = False
    adjacency_threshold: Optional[float] = None  # defaults to threshold (model.py:2457-2461)
    relation_threshold: Optional[float] = None
    dim: int = 64
    seed: int = 42
    # "encoder" = zero-shot span×label scoring (the GLiNER path);
    # "gazetteer" = dictionary-only annotation: encoder scores are
    # skipped and only exact gazetteer matches fire. The gazetteer mode
    # is closed-form (no learned weights), which makes the distributed
    # operator checkable against a plain-SQL oracle end to end.
    scoring: str = "encoder"
    # "span" = (L,K,C) span×label scoring (default GLiNER mode);
    # "token" = (W,C,3) start/end/inside scoring decoded by span
    # assembly with the min-score rule (scorers.py:45-81 + decoder.py:
    # 975-1028) — the token-mode model family.
    mode: str = "span"
    # dependency-lite proximity: a predicate pattern only fires when the
    # head and tail spans are within this many words of each other.
    max_pattern_distance: int = 10
    # M4: bidirectional recurrent smoothing of word embeddings before
    # span representation (LstmSeq2SeqEncoder, layers.py:9-64; active
    # when > 0 — the reference's num_rnn_layers contract).
    num_rnn_layers: int = 0
    # M9: CrossFuser label↔text attention schema (layers.py:298-404),
    # e.g. "l2t-t2l"; empty = off (the reference default).
    post_fusion_schema: str = ""
    # Span representation mode — one of the reference's SpanRepLayer
    # family (span_rep.py:687-760): markerV0 (production default, the
    # bit-exact pre-round-2 path), marker, markerV1, query, mlp, cat,
    # conv_conv, conv_max, conv_mean, conv_sum, conv_share.
    span_mode: str = "markerV0"
    # Adjacency predictor mode for the joint relex head — one of
    # bilinear / dot / mlp / attention / gcn / gat, mirroring the
    # reference's RelationsRepLayer dispatch
    # (relations_layers.py:315-406). Default preserves the bit-exact
    # pre-round-2 bilinear scores.
    relations_mode: str = "bilinear"
    # Documents per model forward (the reference's inference DataLoader
    # default, gliner/model.py:1391). Only ONNX-session backends score a
    # whole sub-batch per call; the deterministic backend scores one
    # document at a time either way.
    batch_size: int = 8



class _Doc(NamedTuple):
    """One prepared document (tokens second: ``_session_chunks`` sizes
    chunks by ``prepared[j][1]``)."""

    i: int  # position in the caller's batch
    tokens: List[str]
    starts: List[int]
    ends: List[int]
    text: str


# session-graph method per (token mode, triples)
_SESSION_CALLS = {
    (False, False): "span_probs",
    (True, False): "token_probs",
    (False, True): "relex_outputs",
    (True, True): "token_relex_outputs",
}


class GLiNERPipeline:
    """Zero-shot span NER + joint relation extraction over raw strings."""

    def __init__(
        self,
        labels: Sequence[str],
        relations: Sequence[str] = (),
        config: Optional[PipelineConfig] = None,
        encoder: Optional[DeterministicEncoder] = None,
        gazetteer: Optional[Dict[str, str]] = None,
        patterns: Optional[Sequence[Tuple[str, str, str]]] = None,
        label_embeddings=None,
    ):
        """``gazetteer`` maps lowercased surface forms → entity label: any
        candidate span whose exact text slice matches gets a confident
        score for that label (a deterministic stand-in for trained span
        recall; the zero-shot scoring still runs underneath).

        ``patterns`` are dependency-lite predicate patterns
        (head_label, relation, tail_label): a confident-entity pair
        whose argmax labels match a pattern gets a confident adjacency
        and relation score — the pattern-based triple-extraction route
        the north star names alongside the learned relex head.

        ``label_embeddings`` (C, dim) overrides the bi-encoder label
        precompute — the reference's ``predict_with_embeds`` surface
        (gliner/model.py:1659-1728): callers embed the label set once
        (``encoder.embed_labels`` / the facade's ``encode_labels``) and
        reuse it across many pipelines/jobs. Only meaningful on
        bi-encoder backends; session (uni-encoder ONNX) graphs embed
        labels in-graph via the prompt and reject the override.
        """
        self.config = config or PipelineConfig()
        self.encoder = encoder or get_encoder(self.config.dim, self.config.seed)
        # Order-preserving de-dup + 1-indexed maps (utils.py:182-212).
        self.labels = list(dict.fromkeys(labels))
        self.relations = list(dict.fromkeys(relations))
        _, self.id_to_class = make_mapping(self.labels)
        _, self.rel_id_to_class = make_mapping(self.relations)
        self.gazetteer = {k.lower(): v for k, v in (gazetteer or {}).items()}
        # Candidate widths derived from the REAL tokenizer, not
        # whitespace split: a term like "u.s." is 1 split-word but 4
        # regex tokens, so len(term.split())-1 would skip the only
        # width that can match it (silent recall loss). Width = number
        # of word tokens - 1 under the same splitter the documents get.
        self._gaz_widths = sorted(
            {
                len(toks) - 1
                for term in self.gazetteer
                if (toks := tokenize_with_offsets(term)[0])
            }
        )
        self.patterns = {
            (h, r, t) for (h, r, t) in (patterns or []) if r in self.relations
        }
        self._label_pos = {lab: i for i, lab in enumerate(self.labels)}
        # relation → rel_probs column for the pattern boosts (every kept
        # pattern names a known relation)
        self._rel_pos = {r: c for c, r in enumerate(self.relations)}
        self._gen_decoders: Dict[tuple, Any] = {}
        # inference packing (reference model.py:217-227): None = fixed
        # batch_size sub-batches; a config switches the session path to
        # token-budget batching (see _session_chunks)
        self._packing_config = None
        # stable identity of this label set for the encoder's score
        # cache (the encoder singleton is shared across pipelines)
        self._label_key = "\x1f".join(self.labels)
        # ONNX-session backends (model/onnx_backend.OnnxSpanEncoder /
        # OnnxRelexEncoder) score whole batches through session.run and
        # embed labels inside the graph via the <<ENT>> prompt — the
        # uni-encoder architecture. The deterministic analog exposes
        # embed_labels for the bi-encoder-style driver precompute.
        self.is_session_backend = hasattr(self.encoder, "span_probs")
        if self.is_session_backend:
            # Session backends build the span grid from THEIR max_width
            # (it's baked into the exported graph feed); a silently
            # diverging PipelineConfig.max_width would change span-width
            # coverage without anyone noticing — fail loudly instead.
            enc_width = getattr(self.encoder, "max_width", None)
            if enc_width is not None and int(enc_width) != self.config.max_width:
                raise ValueError(
                    f"PipelineConfig.max_width={self.config.max_width} != "
                    f"session encoder max_width={enc_width}; the exported "
                    f"graph's span grid wins — construct the encoder with "
                    f"the configured width or align the config"
                )
            if label_embeddings is not None and not getattr(
                self.encoder, "accepts_label_embeddings", False
            ):
                raise ValueError(
                    "label_embeddings override is a bi-encoder surface; "
                    "uni-encoder session graphs embed labels in-graph via "
                    "the <<ENT>> prompt (gliner/model.py:1875-1901). Use "
                    "OnnxBiEncoderSpanEncoder for graphs exported with the "
                    "labels_embeddings input (model.py:1746)"
                )
            if label_embeddings is not None:
                # bi-encoder SESSION graph (labels_embeddings input,
                # onnx/model.py:160-220): the precomputed matrix rides
                # every feed; shape-checked against the label count
                # (the graph's hidden size is its own business)
                embs = np.asarray(label_embeddings, dtype=np.float64)
                if embs.ndim != 2 or embs.shape[0] != len(self.labels):
                    raise ValueError(
                        f"label_embeddings shape {embs.shape} != "
                        f"({len(self.labels)}, D)"
                    )
                self.label_embs = embs
            else:
                self.label_embs = None
            self.rel_embs = None
            if self.relations and not getattr(self.encoder, "supports_relations", False):
                raise ValueError(
                    "relations require a relex-capable backend "
                    "(OnnxRelexEncoder / DeterministicEncoder), got a "
                    "span-only session encoder"
                )
        else:
            # Bi-encoder style precompute: label embeddings once per job
            # (gliner/model.py:1627-1656). In Spark these live inside the
            # broadcast pipeline object. ``label_embeddings`` short-
            # circuits the precompute (predict_with_embeds surface).
            if label_embeddings is not None:
                embs = np.asarray(label_embeddings, dtype=np.float64)
                if embs.shape != (len(self.labels), self.config.dim):
                    raise ValueError(
                        f"label_embeddings shape {embs.shape} != "
                        f"({len(self.labels)}, {self.config.dim})"
                    )
                self.label_embs = embs
                # the cross-document score cache is keyed by the LABEL
                # STRINGS; custom embeddings for the same strings would
                # poison it — salt the key with a content digest
                # (blake2b, not hash(): PYTHONHASHSEED randomizes the
                # latter across workers)
                import hashlib

                digest = hashlib.blake2b(embs.tobytes(), digest_size=8).hexdigest()
                self._label_key = "\x1f".join(self.labels) + "\x1f#embs:" + digest
            else:
                self.label_embs = self.encoder.embed_labels(self.labels)
            self.rel_embs = (
                self.encoder.embed_labels(self.relations) if self.relations else None
            )

    # ------------------------------------------------------------------
    def configure_inference_packing(self, config) -> None:
        """Set the default packing behavior for batched session calls
        (reference model.py:217-227; ``None`` disables).

        With a config, sub-batches are formed by TOKEN BUDGET
        (max_length × streams_per_batch) over the length-sorted docs
        instead of a fixed document count — short docs batch wide, long
        docs batch narrow, so every ``session.run`` sees a bounded
        padded area (the padding-elimination win packing exists for,
        infer_packing.py:164-208, within the longest-padding feed the
        exported graphs accept). Output-identical to unpacked calls:
        per-document logits are independent of batch composition
        (proven by the feed-consuming fake-session tests).
        """
        self._packing_config = config

    def _session_chunks(self, order, prepared):
        """Yield index-chunks of ``order`` (length-sorted positions into
        ``prepared``) for one session call each."""
        bs = max(1, self.config.batch_size)
        pc = self._packing_config
        if pc is None:
            for at in range(0, len(order), bs):
                yield order[at : at + bs]
            return
        budget = max(1, int(pc.max_length) * max(1, int(pc.streams_per_batch)))
        chunk: list = []
        used = 0
        for j in order:
            n = len(prepared[j][1])
            if chunk and used + n > budget:
                yield chunk
                chunk, used = [], 0
            chunk.append(j)
            used += n
        if chunk:
            yield chunk

    # ------------------------------------------------------------------
    # stage 1: prepare
    def _prepare(self, text: str, lang: str):
        """Valid-text filter (_filter_valid_texts, model.py:1222-1241),
        tokenize + offset maps (model.py:1181-1208), truncate
        (processor.py:489-493). Invalid text yields no tokens."""
        if not isinstance(text, str) or not text.strip():
            return [], [], []
        tokens, starts, ends = tokenize_with_offsets(text, lang)
        m = self.config.max_len
        if len(tokens) > m:
            return tokens[:m], starts[:m], ends[:m]
        return tokens, starts, ends

    def _prepared(self, texts, langs) -> Iterator[_Doc]:
        """Documents that survive ``_prepare``, lazily, in input order."""
        if langs is None:
            langs = ["en"] * len(texts)
        for i, (text, lang) in enumerate(zip(texts, langs)):
            tokens, starts, ends = self._prepare(text, lang or "en")
            if tokens:
                yield _Doc(i, tokens, starts, ends, text)

    # ------------------------------------------------------------------
    # stage 2: score
    def _score(self, docs, triples: bool, thr: float):
        """Yield ``(doc, probs, span_reps, rel)`` per prepared document.

        ``probs`` is the span grid (L, K, C) in span mode and the
        start/end/inside flags (W, C, 3) in token mode; ``rel`` is
        ``(rel_idx, rel_probs)`` for triples (either may be None) and
        None otherwise; ``span_reps`` is the deterministic backend's
        full span-rep matrix when it has one (contextual span modes,
        gazetteer-only scoring), else None.
        """
        token = self.config.mode == "token"
        if self.is_session_backend and (token or self.config.scoring != "gazetteer"):
            scored = self._session_scores(docs, triples, token)
        else:
            scored = ((d, *self._score_doc(d.tokens, token), None) for d in docs)
        for doc, probs, span_reps, rel in scored:
            if not token:
                probs = self._apply_gazetteer(probs, doc.text, doc.starts, doc.ends)
            if triples and rel is None:
                rel = self._relex_tail(doc.tokens, probs, span_reps, token, thr)
            yield doc, probs, span_reps, rel

    def _session_scores(self, docs, triples: bool, token: bool):
        """ONNX-session scoring: one session call per length-sorted
        sub-batch (the ``_process_batches`` analog, gliner/model.py:
        1333-1381; see ``_session_chunks``). Relex graphs run confident-
        span selection, adjacency and pair scoring in-graph at the
        export-default thresholds (gliner/model.py:2871-2900, token
        relex 2916-2952) — only decoding is left to us."""
        docs = list(docs)
        if not docs:
            return
        enc = self.encoder
        name = _SESSION_CALLS[token, triples]
        if not hasattr(enc, name):
            raise ValueError(
                f"{'triples' if triples else 'entities'} in "
                f"{'token' if token else 'span'} mode need a session graph "
                f"with {name} outputs; {type(enc).__name__} has none — export "
                "the token-mode graph (gliner/model.py:1941-1989) or the "
                "token-relex graph (gliner/model.py:2916-2952)"
            )
        run = getattr(enc, name)
        if triples:
            args, kw = (self.labels, self.relations), {}
        else:
            args = (self.labels,)
            # bi-encoder graphs take the precomputed label matrix
            # (model.py:1746, BiEncoderTokenGLiNER model.py:2033-2070)
            kw = (
                {"label_embeddings": self.label_embs}
                if getattr(enc, "accepts_label_embeddings", False)
                else {}
            )
        order = sorted(range(len(docs)), key=lambda j: -len(docs[j].tokens))
        for idx_chunk in self._session_chunks(order, docs):
            chunk = [docs[j] for j in idx_chunk]
            for doc, out in zip(chunk, run([d.tokens for d in chunk], *args, **kw)):
                if triples:
                    probs, rel_idx, rel_probs = out
                    yield doc, probs, None, (rel_idx, rel_probs)
                else:
                    yield doc, out, None, None

    def _score_doc(self, tokens: Sequence[str], token: bool):
        """Deterministic scoring of one document: ``(probs, span_reps)``.

        The deterministic encoder consumes the precomputed label
        embeddings directly — the bi-encoder dataflow; the ``<<ENT>>``
        prompt only exists on the ONNX feed (onnx_backend.build_span_feed).
        """
        enc, cfg = self.encoder, self.config
        if token:
            logits = enc.token_label_scores(enc.embed_tokens(tokens), self.label_embs)
            return sigmoid(logits), None  # (W, C, 3)
        L, K, C = len(tokens), cfg.max_width, len(self.labels)
        if cfg.scoring == "gazetteer":
            # Dictionary-only mode: no encoder scores; spans light up via
            # _apply_gazetteer alone. Reps stay zero (relex patterns
            # drive adjacency in this mode).
            return np.zeros((L, K, C)), np.zeros((L * K, cfg.dim))
        sidx = span_idx_array(L, K)
        contextual = (
            cfg.span_mode != "markerV0"
            or cfg.num_rnn_layers > 0
            or bool(cfg.post_fusion_schema)
        )
        if not contextual:
            # token-pair-keyed SCORE cache (Zipf vocabularies repeat
            # pairs heavily): a hit skips both the rep gather and the
            # score einsum; bit-identical to the uncached path. Span
            # reps are not materialized here — the relex tail builds
            # them lazily for the (few) confident spans only.
            logits = enc.score_spans_tokens(tokens, sidx, self.label_embs, self._label_key)
            return sigmoid(logits).reshape(L, K, C), None
        # contextual paths (alt span modes, M4 RNN smoothing, M9
        # cross-fusion) depend on the whole token sequence →
        # per-document compute, no pair cache
        label_embs = self.label_embs
        h = enc.embed_tokens(tokens)
        if cfg.num_rnn_layers > 0:
            h = enc.rnn_smooth(h, cfg.num_rnn_layers)
        if cfg.post_fusion_schema:
            label_embs, h = enc.cross_fuse(label_embs, h, cfg.post_fusion_schema)
        span_reps = enc.span_representations_mode(h, sidx, K, cfg.span_mode)
        logits = enc.score_spans(span_reps, label_embs)  # (L*K, C)
        return sigmoid(logits).reshape(L, K, C), span_reps

    def _apply_gazetteer(
        self,
        probs: np.ndarray,
        text: str,
        starts: Sequence[int],
        ends: Sequence[int],
    ) -> np.ndarray:
        """Boost (span, label) scores for exact gazetteer matches.

        The score is a deterministic function of the surface form (so
        outputs stay reproducible across processes); matching is done on
        the char-slice of the original text, preserving the
        byte-identical-text invariant.
        """
        if not self.gazetteer:
            return probs
        L, K, _C = probs.shape
        n = len(starts)
        # Only span widths that can match a gazetteer term need scanning
        # (a k-token surface only matches k-token terms) — typically 1-2
        # widths instead of all K. Widths come from the real tokenizer
        # (computed once in __init__), so punctuated terms still match.
        for k in (w for w in self._gaz_widths if 0 <= w < K):
            for s in range(min(L, n - k)):
                surface = text[starts[s]: ends[s + k]].lower()
                label = self.gazetteer.get(surface)
                if label is not None:
                    pos = self._label_pos.get(label)
                    if pos is not None:
                        # deterministic high score in [0.90, 0.99]
                        h = sum(surface.encode("utf-8")) % 90
                        probs[s, k, pos] = 0.90 + h / 1000.0
        return probs

    @staticmethod
    def _confident_spans(probs: np.ndarray, n_words: int, thr: float):
        """Confident-span selection (base.py:2051-2074): the flat-index-
        ordered packed list of valid spans whose max-class prob > thr.
        Returns (flat indices, (E, 2) word spans, (E, C) probs)."""
        L, K, _C = probs.shape
        flat = probs.reshape(L * K, -1)
        sidx = span_idx_array(L, K)
        idx = np.nonzero((flat.max(axis=1) > thr) & (sidx[:, 1] < n_words))[0]
        return idx, sidx[idx], flat[idx]

    def _relex_tail(self, tokens, probs, span_reps, token: bool, thr: float):
        """Deterministic joint relex over one document's scores
        (UniEncoderSpanRelexGLiNER, model.py:2404-2613; token family
        UniEncoderTokenRelexGLiNER, model.py:2902):

        1. candidate spans — span mode: the confident packed list;
           token mode: every (start-flag, end-flag) pair of one class
           whose inside positions are all flagged
           (extract_spans_from_tokens, modeling/utils.py:299-379);
        2. adjacency over the candidates (mode-dispatched,
           relations_layers.py:315-406), then all directed pairs (i, j),
           i ≠ j, over adjacency_threshold in row-major order
           (modeling/utils.py:209-296);
        3. pair×relation scoring (base.py:2243-2246).

        Span mode adds the predicate-pattern boosts on both the
        adjacency and the relation scores; token-mode candidates carry
        no labels, so they get none. Returns (rel_idx, rel_probs), both
        None when no pair survives.
        """
        cfg = self.config
        if self.rel_embs is None or not len(self.rel_embs):
            return None, None
        if token:
            spans = extract_spans_from_token_probs(
                probs[:, :, 0], probs[:, :, 1], probs[:, :, 2], thr
            )
            idx = None
        else:
            idx, spans, packed_probs = self._confident_spans(probs, len(tokens), thr)
        E = len(spans)
        if E < 2:
            return None, None
        if span_reps is None:
            # build reps ONLY for the candidates (E ≪ L·K); same per-row
            # math as the full matrix
            reps = self.encoder.span_representations_tokens(tokens, spans)
        else:
            reps = span_reps[idx]
        adj = self.encoder.adjacency_probs(reps, cfg.relations_mode)
        boost = not token and bool(self.patterns)
        if boost:
            labels = np.array(self.labels)[packed_probs.argmax(axis=1)]
            # dependency-lite predicate patterns: a typed pair matching
            # any (head_label, *, tail_label) pattern AND within
            # max_pattern_distance words is a confident adjacency
            # candidate. Vectorized over the E×E grid (the reference's
            # O(E²) Python loop is its bottleneck, modeling/utils.py:
            # 254-258 — SURVEY.md §4.3); word gap = max(start_j - end_i,
            # start_i - end_j).
            st, en = spans[:, 0], spans[:, 1]
            gap = np.maximum(st[None, :] - en[:, None], st[:, None] - en[None, :])
            near = gap <= cfg.max_pattern_distance
            typed = np.zeros((E, E), dtype=bool)
            for h, _r, t in self.patterns:
                typed |= (labels[:, None] == h) & (labels[None, :] == t)
            np.fill_diagonal(typed, False)
            adj = np.where(typed & near, np.maximum(adj, 0.95), adj)
        rows, cols = np.nonzero(~np.eye(E, dtype=bool))  # row-major (i, j), i != j
        adj_thr = cfg.adjacency_threshold if cfg.adjacency_threshold is not None else thr
        sel = adj[rows, cols] > adj_thr
        pairs = np.stack([rows[sel], cols[sel]], axis=1)
        if not len(pairs):
            return None, None
        # packed form: span-level projections once, pair-level adds
        rel_probs = sigmoid(
            self.encoder.pair_relation_logits_packed(reps, pairs, self.rel_embs)
        )
        if boost:
            hl, tl = labels[pairs[:, 0]], labels[pairs[:, 1]]
            near = near[pairs[:, 0], pairs[:, 1]]
            for h, r, t in self.patterns:
                mask = near & (hl == h) & (tl == t)
                c = self._rel_pos[r]
                rel_probs[mask, c] = np.maximum(rel_probs[mask, c], 0.93)
        return pairs, rel_probs

    # ------------------------------------------------------------------
    # stages 3 + 4: decode, char-map
    def _decode(
        self, doc: _Doc, probs, thr, input_spans=None, return_class_probs=False,
        id_to_class=None,
    ):
        """Entity decode + char mapping: ``(spans, entities)``. Span
        grids decode greedily (decoder.py:222-293); token flags assemble
        spans with the min-score rule (decoder.py:975-1028)."""
        cfg = self.config
        id_to_class = id_to_class or self.id_to_class
        if cfg.mode == "token":
            spans = decode_token_scores(
                probs[:, :, 0],
                probs[:, :, 1],
                probs[:, :, 2],
                id_to_class,
                threshold=thr,
                flat_ner=cfg.flat_ner,
                multi_label=cfg.multi_label,
                input_spans=input_spans,
                return_class_probs=return_class_probs,
            )
        else:
            spans = decode_span_probs(
                probs,
                doc.tokens,
                id_to_class,
                threshold=thr,
                flat_ner=cfg.flat_ner,
                multi_label=cfg.multi_label,
                return_class_probs=return_class_probs,
                input_spans=input_spans,
            )
        return spans, map_spans_to_char(spans, doc.text, doc.starts, doc.ends)

    def _run(
        self, texts, langs, threshold, triples: bool,
        input_spans_list=None, return_class_probs=False,
    ) -> list:
        """The batch loop every entry point goes through: prepare →
        score → decode → char-map, results in input order."""
        cfg = self.config
        thr = cfg.threshold if threshold is None else threshold
        rel_thr = cfg.relation_threshold if cfg.relation_threshold is not None else thr
        results: list = [([], []) if triples else [] for _ in texts]
        for doc, probs, _reps, rel in self._score(self._prepared(texts, langs), triples, thr):
            word_spans = (
                self._to_word_spans(input_spans_list[doc.i], doc.starts, doc.ends)
                if input_spans_list is not None
                else None
            )
            spans, entities = self._decode(doc, probs, thr, word_spans, return_class_probs)
            if not triples:
                results[doc.i] = entities
                continue
            # head/tail indices from the PRE-greedy candidate list,
            # validated against the POST-greedy spans (decoder.py:822)
            rel_tuples = decode_relations(
                spans, rel[0], rel[1], None, self.rel_id_to_class, threshold=rel_thr
            )
            relations = format_relations(rel_tuples, spans, doc.text, doc.starts, doc.ends)
            results[doc.i] = (entities, relations)
        return results

    @staticmethod
    def _to_word_spans(input_spans, starts, ends):
        """CHAR spans → WORD spans via exact-boundary reverse maps,
        silently dropping non-aligned spans (P6, model.py:1243-1279)."""
        if input_spans is None:
            return None
        start_map = {cs: i for i, cs in enumerate(starts)}
        end_map = {ce: i for i, ce in enumerate(ends)}
        return [
            (start_map[cs], end_map[ce])
            for cs, ce in input_spans
            if cs in start_map and ce in end_map  # silent drop (P6)
        ]

    # ------------------------------------------------------------------
    # entry points
    def predict_entities(
        self,
        text: str,
        lang: str = "en",
        threshold: Optional[float] = None,
        input_spans: Optional[Sequence[Tuple[int, int]]] = None,
        return_class_probs: bool = False,
    ) -> List[Dict[str, Any]]:
        """Entities with char offsets for one document (model.py:1493-1520).

        ``input_spans`` restricts decoding to user-provided CHAR spans
        (D9, decoder.py:258-266): each is converted to word indices via
        the exact-boundary reverse maps and silently dropped when it
        doesn't align to token boundaries (P6, model.py:1243-1279).
        ``return_class_probs`` attaches the top-k per-class
        probabilities per span (D4, decoder.py:159-188); in token mode
        these are per-class min-rule span scores.
        """
        return self._run(
            [text], [lang], threshold, False, [input_spans], return_class_probs
        )[0]

    def predict_entities_batch(
        self,
        texts: Sequence[str],
        langs: Optional[Sequence[str]] = None,
        threshold: Optional[float] = None,
        input_spans_list: Optional[Sequence] = None,
        return_class_probs: bool = False,
    ) -> List[List[Dict[str, Any]]]:
        """Batched prediction — the ``_process_batches`` analog
        (gliner/model.py:1333-1381).

        Session (ONNX) backends run ONE ``session.run`` per sub-batch of
        ``config.batch_size`` documents, with documents length-sorted
        first so each padded batch is length-homogeneous (the cheap 80%
        of the reference's packing win, infer_packing.py:164-208; see
        ``configure_inference_packing`` for token-budget sub-batches).
        Output order follows the input order and is identical to
        per-document ``predict_entities`` calls.
        """
        return self._run(
            texts, langs, threshold, False, input_spans_list, return_class_probs
        )

    def predict_triples(
        self, text: str, lang: str = "en", threshold: Optional[float] = None
    ) -> Tuple[List[Dict[str, Any]], List[Dict[str, Any]]]:
        """(entities, relations) for one document — the joint relex
        route (model.py:2404-2613): scoring, the relex tail
        (``_relex_tail``, or in-graph on relex session backends), then
        entity decode and relation decode."""
        return self._run([text], [lang], threshold, True)[0]

    def predict_triples_batch(
        self,
        texts: Sequence[str],
        langs: Optional[Sequence[str]] = None,
        threshold: Optional[float] = None,
    ) -> List[Tuple[List[Dict[str, Any]], List[Dict[str, Any]]]]:
        """Batched triples — one ``session.run`` per length-sorted
        sub-batch on relex session backends, per-doc otherwise."""
        return self._run(texts, langs, threshold, True)

    # ------------------------------------------------------------------
    def _generative_decoder(self, constraints):
        """Lazily-built deterministic generative head, cached per
        constraint set (the decoder tokenizer's closed vocabulary is
        labels ∪ constraints)."""
        key = tuple(constraints or ())
        dec = self._gen_decoders.get(key)
        if dec is None:
            vocab_labels = list(self.labels) + list(constraints or ())
            dec = GenerativeLabelDecoder(self.encoder, LabelTokenizer(vocab_labels))
            self._gen_decoders[key] = dec
        return dec

    def predict_entities_generative(
        self,
        text: str,
        lang: str = "en",
        threshold: Optional[float] = None,
        decoder_mode: str = "span",
        gen_constraints: Optional[Sequence[str]] = None,
        num_gen_sequences: int = 1,
        max_new_tokens: int = 15,
    ) -> List[Dict[str, Any]]:
        """Entities with GENERATED type labels (M15/D10) — the
        encoder-decoder family's inference (model.py:2166-2321).

        ``decoder_mode`` follows config.decoder_mode semantics
        (decoding/decoder.py:403-614):

        * ``"span"``  — confident spans each get ``num_gen_sequences``
          generated label strings attached as ``generated_labels``;
        * ``"prompt"`` — one label is generated per PROMPT CLASS from
          its label embedding and REPLACES the class name in
          id_to_classes (decoder.py:415-444); entities carry the
          generated name as their ``label``.

        Span mode keeps the select_span_decoder_embedding rule
        (base.py:1356-1374: sigmoid(score).max > threshold, flat L*K
        packing order) and decodes greedily. Token mode is the
        UniEncoderTokenDecoderGLiNER family (gliner/model.py:2346-2358;
        base.py:1608-1900; TokenGenerativeDecoder, decoder.py:
        1427-1533): candidates proposed from the BIO flags are re-scored
        against the label embeddings (base.py:1836) and decoded over
        THOSE span probs; the decoder keeps candidates with max prob
        > 0.5 — the reference HARD-CODES 0.5 (base.py:1700-1702),
        independent of the user threshold — and labels attach by
        candidate position (decoder.py:1490-1531).

        ``gen_constraints`` builds the labels trie (model.py:2107-2131)
        so every generated string is a member of the constraint set.
        This family is ONNX-incompatible in the reference too
        (model.py:2322-2345) — session backends are rejected.
        """
        if self.is_session_backend:
            raise NotImplementedError(
                "generative label decoding is ONNX-incompatible "
                "(reference model.py:2322-2345 raises on export); use the "
                "deterministic bi-encoder backend"
            )
        thr = self.config.threshold if threshold is None else threshold
        scored = list(self._score(self._prepared([text], [lang]), False, thr))
        if not scored:
            return []
        doc, probs, span_reps, _ = scored[0]
        token = self.config.mode == "token"
        if token:
            cand = extract_spans_from_token_probs(
                probs[:, :, 0], probs[:, :, 1], probs[:, :, 2], thr
            )
            if len(cand) == 0:
                return []
            cand_reps = self.encoder.span_representations_tokens(doc.tokens, cand)
            cand_probs = sigmoid(self.encoder.score_spans(cand_reps, self.label_embs))
        dec = self._generative_decoder(gen_constraints)
        gen_kw = dict(constraints=gen_constraints, max_new_tokens=max_new_tokens)
        id_to_class = self.id_to_class
        span_label_map: Dict[int, List[str]] = {}
        if decoder_mode == "prompt":
            # decoder input = prompt (class) embeddings, one generated
            # name per class, num_return_sequences=1 (decoder.py:452)
            gen = dec.generate_labels(self.label_embs, num_return_sequences=1, **gen_kw)
            id_to_class = updated_id_to_classes(self.id_to_class, gen)
        elif decoder_mode == "span":
            if token:
                sel = np.nonzero(cand_probs.max(axis=1) > 0.5)[0]
            else:
                sel, spans, _ = self._confident_spans(probs, len(doc.tokens), thr)
            if len(sel):
                if token:
                    sel_reps = cand_reps[sel]
                elif span_reps is None:
                    sel_reps = self.encoder.span_representations_tokens(doc.tokens, spans)
                else:
                    sel_reps = span_reps[sel]
                gen = dec.generate_labels(
                    sel_reps, num_return_sequences=num_gen_sequences, **gen_kw
                )
                span_label_map = build_span_label_map(sel, gen, num_gen_sequences)
        else:
            raise ValueError(f"unknown decoder_mode: {decoder_mode!r}")
        if token:
            spans = decode_candidate_span_probs(
                cand_probs,
                cand,
                id_to_class,
                span_label_map=span_label_map,
                threshold=thr,
                flat_ner=self.config.flat_ner,
                multi_label=self.config.multi_label,
            )
            entities = map_spans_to_char(spans, doc.text, doc.starts, doc.ends)
            labels = [span.generated_labels for span in spans]
        else:
            spans, entities = self._decode(doc, probs, thr, id_to_class=id_to_class)
            # flat_idx = start * K + width addresses the pre-greedy
            # packed list (decoder.py:492-527 _build_span_tuple)
            K = probs.shape[1]
            labels = [
                span_label_map.get(span.start * K + (span.end - span.start))
                for span in spans
            ]
        for ent, gen_labels in zip(entities, labels):
            if gen_labels is not None:
                ent["generated_labels"] = gen_labels
        return entities
