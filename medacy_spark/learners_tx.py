"""From-scratch numpy transformer encoder for token classification — the
last X3 learner family (reference: bert_learner.py:16-302 +
nn/bert_crf_for_token_classification.py).

The reference fine-tunes pretrained bert-large-cased through the
transformers package, with an optional CRF head (``using_crf``). Neither
torch, transformers, nor the pretrained weights exist in this container,
so — same playbook as the r5 BiLSTM-CRF — this module implements the
model FAMILY directly in numpy, trained from scratch:

  * embeddings: word table (frozen S6 word2vec vectors or trainable
    random rows) + trainable hashed char-trigram bag, linearly projected
    to d_model, plus a LEARNED positional table (BERT's scheme).
  * encoder: ``n_layers`` post-LN transformer blocks — multi-head
    scaled-dot-product self-attention, residual, LayerNorm, two-layer
    GELU feed-forward, residual, LayerNorm — with exact hand-derived
    backprop through every component (attention softmax, LayerNorm,
    tanh-approximated GELU).
  * head: per-token softmax cross-entropy (``using_crf=False``, the
    reference's BertForTokenClassification default) or the exact
    linear-chain CRF shared with the BiLSTM learner
    (learners_nn.crf_nll_grads / viterbi_decode —
    BertCrfForTokenClassification).
  * optimizer: plain SGD with global-norm clipping;
    RandomState(seed=1) mirrors the reference's torch.manual_seed(1).

DOCUMENTED DIVERGENCE from the reference: no pretrained weights (none
are reachable here), so quality comes from task training, not transfer;
WordPiece subtokenization is replaced by the char-trigram bag (same
morphological role; the reference's X-subtoken alignment labels become
unnecessary because tokens are never split).

Every gradient path is verified against central finite differences in
tests/test_learners_tx.py, and the encoder is gated on a long-distance
agreement task where attention's O(1) path length beats the BiLSTM's
recurrence at an equal training budget.

Distribution contract: identical to the BiLSTM, through the same
``learners_nn.DenseShardedFit`` base — driver fit below
Model.driver_fit_max_sentences, ``fit_sharded`` iterative model
averaging above it (flat parameter dict → uniform tensor averaging,
CRF transitions included), scoring through the same broadcast +
Arrow-batch stage
(operators/ner_model.score_sentences). Pickle-safe for Model.save/load.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np

from medacy_spark.learners_nn import (
    DenseShardedFit,
    crf_nll_grads,
    resolve_label_set,
    viterbi_decode,
)

_LN_EPS = 1e-5
_GELU_C = 0.7978845608028654  # sqrt(2/pi)


def _gelu(x: np.ndarray) -> np.ndarray:
    """tanh-approximated GELU — smooth everywhere, so central finite
    differences verify its gradient (ReLU's kink would not)."""
    u = _GELU_C * (x + 0.044715 * x**3)
    return 0.5 * x * (1.0 + np.tanh(u))


def _gelu_grad(x: np.ndarray) -> np.ndarray:
    u = _GELU_C * (x + 0.044715 * x**3)
    t = np.tanh(u)
    du = _GELU_C * (1.0 + 3 * 0.044715 * x**2)
    return 0.5 * (1.0 + t) + 0.5 * x * (1.0 - t**2) * du


def _layernorm_fwd(x: np.ndarray, g: np.ndarray, b: np.ndarray):
    mu = x.mean(axis=-1, keepdims=True)
    xc = x - mu
    var = (xc**2).mean(axis=-1, keepdims=True)
    inv = 1.0 / np.sqrt(var + _LN_EPS)
    xhat = xc * inv
    return g * xhat + b, (xhat, inv)


def _layernorm_bwd(dy: np.ndarray, g: np.ndarray, cache):
    xhat, inv = cache
    dg = (dy * xhat).sum(axis=0)
    db = dy.sum(axis=0)
    dxhat = dy * g
    m1 = dxhat.mean(axis=-1, keepdims=True)
    m2 = (dxhat * xhat).mean(axis=-1, keepdims=True)
    dx = inv * (dxhat - m1 - xhat * m2)
    return dx, dg, db


def _softmax_rows(x: np.ndarray) -> np.ndarray:
    m = x.max(axis=-1, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=-1, keepdims=True)


class TransformerCRFLearner(DenseShardedFit):
    """Spec value 'BERT' (pipeline.py): numpy transformer encoder +
    softmax or CRF token-classification head. Same callable contract as
    every learner: ``learner(list[list[str]]) -> list[list[str]]``."""

    def __init__(
        self,
        d_model: int = 32,
        n_heads: int = 4,
        d_ff: int = 64,
        n_layers: int = 2,
        char_dim: int = 8,
        embedding_dim: int = 25,
        max_len: int = 512,
        epochs: int = 30,
        lr: float = 0.05,
        clip: float = 5.0,
        seed: int = 1,
        word_vectors: dict[str, Sequence[float]] | None = None,
        using_crf: bool = False,
    ) -> None:
        if d_model % n_heads:
            raise ValueError(f"d_model {d_model} not divisible by n_heads {n_heads}")
        self.d_model = d_model
        self.n_heads = n_heads
        self.d_ff = d_ff
        self.n_layers = n_layers
        self.char_dim = char_dim
        self.embedding_dim = embedding_dim
        self.max_len = max_len
        self.epochs = epochs
        self.lr = lr
        self.clip = clip
        self.seed = seed
        self.word_vectors = dict(word_vectors) if word_vectors else None
        self.using_crf = using_crf
        self.labels: list[str] = ["O"]
        self._params: dict[str, np.ndarray] | None = None

    def fresh(self) -> "TransformerCRFLearner":
        return TransformerCRFLearner(
            self.d_model, self.n_heads, self.d_ff, self.n_layers,
            self.char_dim, self.embedding_dim, self.max_len, self.epochs,
            self.lr, self.clip, self.seed, self.word_vectors, self.using_crf,
        )

    # ------------------------------------------------------------ internals

    def _build(self, vocab: list[str]) -> None:
        rng, E, C = self._build_embeddings(vocab)
        de = self.embedding_dim
        d, L = self.d_model, len(self.labels)
        s_in = 1.0 / np.sqrt(de + self.char_dim)
        s_d = 1.0 / np.sqrt(d)
        p: dict[str, np.ndarray] = {
            "E": E,
            "C": C,
            "Win": rng.uniform(-s_in, s_in, (de + self.char_dim, d)),
            "bin": np.zeros(d),
            "P": rng.uniform(-0.1, 0.1, (self.max_len, d)),
            "Wo": rng.uniform(-s_d, s_d, (d, L)),
            "bo": np.zeros(L),
        }
        for l in range(self.n_layers):
            for nm in ("Wq", "Wk", "Wv", "Wa"):
                p[f"L{l}.{nm}"] = rng.uniform(-s_d, s_d, (d, d))
                p[f"L{l}.b{nm[1:]}"] = np.zeros(d)
            p[f"L{l}.g1"] = np.ones(d)
            p[f"L{l}.be1"] = np.zeros(d)
            p[f"L{l}.W1"] = rng.uniform(-s_d, s_d, (d, self.d_ff))
            p[f"L{l}.bf1"] = np.zeros(self.d_ff)
            p[f"L{l}.W2"] = rng.uniform(
                -1.0 / np.sqrt(self.d_ff), 1.0 / np.sqrt(self.d_ff),
                (self.d_ff, d),
            )
            p[f"L{l}.bf2"] = np.zeros(d)
            p[f"L{l}.g2"] = np.ones(d)
            p[f"L{l}.be2"] = np.zeros(d)
        if self.using_crf:
            p["T"] = np.zeros((L + 1, L))  # row L = start transitions
        self._params = p

    def _attn_fwd(self, x: np.ndarray, l: int):
        p = self._params
        d, nh = self.d_model, self.n_heads
        dh = d // nh
        Q = x @ p[f"L{l}.Wq"] + p[f"L{l}.bq"]
        K = x @ p[f"L{l}.Wk"] + p[f"L{l}.bk"]
        V = x @ p[f"L{l}.Wv"] + p[f"L{l}.bv"]
        Ocat = np.empty_like(Q)
        Ps = []
        for k in range(nh):
            sl = slice(k * dh, (k + 1) * dh)
            Sc = (Q[:, sl] @ K[:, sl].T) / np.sqrt(dh)
            P = _softmax_rows(Sc)
            Ps.append(P)
            Ocat[:, sl] = P @ V[:, sl]
        A = Ocat @ p[f"L{l}.Wa"] + p[f"L{l}.ba"]
        return A, (x, Q, K, V, Ps, Ocat)

    def _attn_bwd(self, dA: np.ndarray, l: int, cache, grads: dict):
        p = self._params
        x, Q, K, V, Ps, Ocat = cache
        d, nh = self.d_model, self.n_heads
        dh = d // nh
        grads[f"L{l}.Wa"] += Ocat.T @ dA
        grads[f"L{l}.ba"] += dA.sum(axis=0)
        dOcat = dA @ p[f"L{l}.Wa"].T
        dQ = np.zeros_like(Q)
        dK = np.zeros_like(K)
        dV = np.zeros_like(V)
        for k in range(nh):
            sl = slice(k * dh, (k + 1) * dh)
            P = Ps[k]
            dO = dOcat[:, sl]
            dP = dO @ V[:, sl].T
            dV[:, sl] = P.T @ dO
            # softmax backward, rows independent
            dSc = P * (dP - (dP * P).sum(axis=-1, keepdims=True))
            dSc /= np.sqrt(dh)
            dQ[:, sl] = dSc @ K[:, sl]
            dK[:, sl] = dSc.T @ Q[:, sl]
        grads[f"L{l}.Wq"] += x.T @ dQ
        grads[f"L{l}.bq"] += dQ.sum(axis=0)
        grads[f"L{l}.Wk"] += x.T @ dK
        grads[f"L{l}.bk"] += dK.sum(axis=0)
        grads[f"L{l}.Wv"] += x.T @ dV
        grads[f"L{l}.bv"] += dV.sum(axis=0)
        return dQ @ p[f"L{l}.Wq"].T + dK @ p[f"L{l}.Wk"].T + dV @ p[f"L{l}.Wv"].T

    def _emissions(self, words: Sequence[str], want_cache: bool = False):
        p = self._params
        n = len(words)
        if n > self.max_len:
            # callers chunk (fit/_decode); reaching here is a logic error
            raise ValueError(
                f"sequence of {n} tokens exceeds max_len={self.max_len}"
            )
        ids, chars = self._encode(words)
        feat = np.concatenate(
            [p["E"][ids], np.stack([p["C"][c].sum(axis=0) for c in chars])],
            axis=1,
        )
        x = feat @ p["Win"] + p["bin"] + p["P"][:n]
        layer_caches = []
        for l in range(self.n_layers):
            A, ac = self._attn_fwd(x, l)
            r1 = x + A
            x1, ln1c = _layernorm_fwd(r1, p[f"L{l}.g1"], p[f"L{l}.be1"])
            z = x1 @ p[f"L{l}.W1"] + p[f"L{l}.bf1"]
            Fo = _gelu(z) @ p[f"L{l}.W2"] + p[f"L{l}.bf2"]
            r2 = x1 + Fo
            x2, ln2c = _layernorm_fwd(r2, p[f"L{l}.g2"], p[f"L{l}.be2"])
            layer_caches.append((ac, ln1c, x1, z, ln2c))
            x = x2
        S = x @ p["Wo"] + p["bo"]
        if not want_cache:
            return S
        return S, (ids, chars, feat, layer_caches, x)

    def _head_grads(self, S: np.ndarray, gold_idx: np.ndarray):
        """(loss, dS, dT-or-None) for the configured head."""
        if self.using_crf:
            nll, dS, dT = crf_nll_grads(S, self._params["T"], gold_idx)
            return nll, dS, dT
        P = _softmax_rows(S)
        n = S.shape[0]
        nll = -float(
            np.log(np.clip(P[np.arange(n), gold_idx], 1e-300, None)).sum()
        )
        dS = P.copy()
        dS[np.arange(n), gold_idx] -= 1.0
        return nll, dS, None

    def _sentence_grads(self, words: Sequence[str], gold_idx: np.ndarray):
        p = self._params
        S, (ids, chars, feat, layer_caches, xout) = self._emissions(
            words, want_cache=True
        )
        loss, dS, dT = self._head_grads(S, gold_idx)
        grads: dict[str, np.ndarray] = {
            k: np.zeros_like(v) for k, v in p.items()
            if not (k == "E" and self._freeze_emb)
        }
        if dT is not None:
            grads["T"] += dT
        grads["Wo"] += xout.T @ dS
        grads["bo"] += dS.sum(axis=0)
        dx = dS @ p["Wo"].T
        for l in range(self.n_layers - 1, -1, -1):
            ac, ln1c, x1, z, ln2c = layer_caches[l]
            dr2, dg2, dbe2 = _layernorm_bwd(dx, p[f"L{l}.g2"], ln2c)
            grads[f"L{l}.g2"] += dg2
            grads[f"L{l}.be2"] += dbe2
            # r2 = x1 + gelu(z) @ W2 + bf2
            gz = _gelu(z)
            grads[f"L{l}.W2"] += gz.T @ dr2
            grads[f"L{l}.bf2"] += dr2.sum(axis=0)
            dgz = dr2 @ p[f"L{l}.W2"].T
            dz = dgz * _gelu_grad(z)
            grads[f"L{l}.W1"] += x1.T @ dz
            grads[f"L{l}.bf1"] += dz.sum(axis=0)
            dx1 = dr2 + dz @ p[f"L{l}.W1"].T
            dr1, dg1, dbe1 = _layernorm_bwd(dx1, p[f"L{l}.g1"], ln1c)
            grads[f"L{l}.g1"] += dg1
            grads[f"L{l}.be1"] += dbe1
            # r1 = x + A(x)
            dx = dr1 + self._attn_bwd(dr1, l, ac, grads)
        n = len(words)
        grads["P"][:n] += dx
        dfeat = dx @ p["Win"].T
        grads["Win"] += feat.T @ dx
        grads["bin"] += dx.sum(axis=0)
        de = feat.shape[1] - self.char_dim
        if not self._freeze_emb:
            np.add.at(grads["E"], ids, dfeat[:, :de])
        for t, c in enumerate(chars):
            np.add.at(grads["C"], c, dfeat[t, de:])
        return loss, grads

    def _apply(self, grads: dict[str, np.ndarray], lr: float) -> None:
        p = self._params
        norm = float(np.sqrt(sum((v * v).sum() for v in grads.values())))
        scale = lr * (self.clip / norm if norm > self.clip else 1.0)
        for k, g in grads.items():
            p[k] -= scale * g

    # ------------------------------------------------------------- fit/call

    def fit(
        self,
        examples: Iterable[tuple[Sequence[str], Sequence[str]]],
        epochs: int | None = None,
        labels: Sequence[str] | None = None,
        vocab: Sequence[str] | None = None,
        init_params: dict | None = None,
    ) -> "TransformerCRFLearner":
        """Same contract as BiLSTMCRFLearner.fit: ``labels``/``vocab``
        fix the global classes and embedding rows (fit_sharded passes
        both), ``init_params`` warm-starts from an export_params dict.

        Sequences longer than ``max_len`` are split into consecutive
        ``max_len`` training windows (standard BERT practice — the
        reference truncates at its 512 cap in encode_sequences;
        windowing keeps every token's gold label instead of dropping
        the tail). Attention is O(n²), so the cap also bounds
        per-sequence compute."""
        examples = [(list(w), list(g)) for w, g in examples if len(w)]
        examples = [
            (w[i : i + self.max_len], g[i : i + self.max_len])
            for w, g in examples
            for i in range(0, len(w), self.max_len)
        ]
        self.labels = resolve_label_set(examples, labels)
        lab_i = {y: i for i, y in enumerate(self.labels)}
        if vocab is None:
            vocab = sorted({w.lower() for ws, _ in examples for w in ws})
        self._build(list(vocab))
        if init_params is not None:
            self._load_params(init_params)
        gold = [
            np.array([lab_i[y] for y in g], dtype=np.int64)
            for _, g in examples
        ]
        for _ in range(self.epochs if epochs is None else epochs):
            # fixed in-order passes, no shuffling — deterministic like the
            # rest of the repo (the reference seeds torch for the same end)
            for (words, _), gi in zip(examples, gold):
                _, grads = self._sentence_grads(words, gi)
                self._apply(grads, self.lr)
        return self

    # ------------------------------------------------- parameter transport

    def export_params(self) -> dict:
        out: dict = {
            "labels": list(self.labels),
            "vocab": sorted(self.vocab, key=self.vocab.get),
        }
        out.update({k: v.copy() for k, v in self._params.items()})
        return out

    def _load_params(self, d: dict) -> None:
        p = self._params
        for k in p:
            if p[k].shape != d[k].shape:
                raise ValueError(f"param {k}: shape {d[k].shape} != {p[k].shape}")
            p[k][...] = d[k]

    # ---------------------------------------------------------------- decode

    def _decode(self, words: Sequence[str]) -> list[str]:
        if not words:
            return []
        out: list[str] = []
        # decode in the same max_len windows fit trains on; labels stay
        # 1:1 with the input tokens (the Arrow scoring stage's contract)
        for i in range(0, len(words), self.max_len):
            S = self._emissions(words[i : i + self.max_len])
            if self.using_crf:
                path = viterbi_decode(S, self._params["T"])
            else:
                path = S.argmax(axis=1).tolist()
            out.extend(self.labels[int(j)] for j in path)
        return out
