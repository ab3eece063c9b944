"""From-scratch numpy BiLSTM-CRF sequence learner (X3 neural family).

The reference's neural learner (bilstm_crf_learner.py:16-162 +
nn/bilstm_crf.py:15-118) is pretrained word embeddings + a character
LSTM + a bidirectional LSTM (HIDDEN_DIM=200) + linear + CRF, trained
with plain SGD (lr=0.01, torch.manual_seed(1)). torch is not in this
container, so this module implements the same model family directly in
numpy — a real neural learner, not a stand-in:

  * word embeddings: loaded from the S6 word2vec-text source
    (sources/embeddings.py — the reference REQUIRES an embeddings file,
    bilstm_crf_learner.py:39-42) and kept frozen like
    nn.Embedding.from_pretrained; or, when none is given, a trainable
    randomly-initialized table (documented extension for
    embedding-less corpora — the reference would raise).
  * character features: the reference runs a per-token character BiLSTM
    (nn/character_lstm.py). Documented divergence: here a trainable
    hashed character-TRIGRAM embedding bag (sum over the token's
    trigrams) supplies the morphological signal — same role, a fraction
    of the BPTT cost in pure numpy.
  * BiLSTM: full forward/backward LSTM passes with exact BPTT
    (standard gate equations), hidden size configurable (default 32 vs
    the reference's 200 — sized for CPU training in tests; the
    parameterization is identical).
  * CRF head: exact linear-chain negative log-likelihood via log-space
    forward-backward; gradient = expected − empirical sufficient
    statistics (the same maths as learners.CRFLearner); Viterbi decode.
  * optimizer: plain SGD at the reference's lr=0.01 default with
    global-norm gradient clipping; numpy RandomState(seed=1) mirrors
    torch.manual_seed(1) — bit-reproducible runs.

Every gradient path (emissions→linear→BiLSTM→embeddings/char-bag, and
the CRF transitions) is verified against central finite differences in
tests/test_learners_nn.py — the correctness evidence a from-scratch
backprop needs.

Distribution contract: driver-side fit like the reference's for
directory-scale corpora, plus ``fit_sharded`` for corpora above
Model.driver_fit_max_sentences — the one ``learners.ShardedFit`` mixing
loop, whose dense hooks (``DenseShardedFit``, shared with the
transformer) make it iterative model averaging: each shard runs local
SGD inside an Arrow batch from the broadcast mixed parameters; only
model-scale snapshots reach the driver. Scoring plugs the fitted learner
into the SAME broadcast + Arrow-batch stage as every other learner
(operators/ner_model.score_sentences takes any
``list[list[str]] -> list[list[str]]`` callable). Pickle-safe for
Model.save/load.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np

from medacy_spark.learners import ShardedFit

_UNK = 0  # row 0 of the embedding table is the unknown-word vector
_CHAR_BUCKETS = 4096


def _sigmoid(x: np.ndarray) -> np.ndarray:
    out = np.empty_like(x)
    pos = x >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-x[pos]))
    ex = np.exp(x[~pos])
    out[~pos] = ex / (1.0 + ex)
    return out


def _char_trigram_ids(word: str) -> np.ndarray:
    from zlib import crc32

    s = f"^{word.lower()}$"
    grams = [s[i : i + 3] for i in range(max(len(s) - 2, 1))]
    return np.array(
        [crc32(g.encode("utf-8")) % _CHAR_BUCKETS for g in grams], dtype=np.int64
    )


def _lse(a: np.ndarray, axis: int) -> np.ndarray:
    m = a.max(axis=axis, keepdims=True)
    return np.squeeze(m + np.log(np.exp(a - m).sum(axis=axis, keepdims=True)), axis=axis)


def crf_nll_grads(S: np.ndarray, T: np.ndarray, gold_idx: np.ndarray):
    """Exact linear-chain NLL over emissions S (n, L) and transitions T
    (L+1, L; row L = start); returns (nll, dS, dT) — gradients of the
    MINIMIZED loss (expected − empirical statistics). Module-level so the
    BiLSTM-CRF and the transformer learner share ONE verified CRF head."""
    n, L = S.shape
    la = np.empty((n, L))
    la[0] = S[0] + T[L]
    for i in range(1, n):
        la[i] = S[i] + _lse(la[i - 1][:, None] + T[:L], axis=0)
    lb = np.zeros((n, L))
    for i in range(n - 2, -1, -1):
        lb[i] = _lse(T[:L] + (S[i + 1] + lb[i + 1])[None, :], axis=1)
    logZ = _lse(la[-1], axis=0)
    gold_score = S[np.arange(n), gold_idx].sum() + T[L, gold_idx[0]]
    if n > 1:
        gold_score += T[gold_idx[:-1], gold_idx[1:]].sum()
    nll = logZ - gold_score
    marg = np.exp(la + lb - logZ)
    dS = marg.copy()
    dS[np.arange(n), gold_idx] -= 1.0
    dT = np.zeros_like(T)
    dT[L] = marg[0]
    dT[L, gold_idx[0]] -= 1.0
    for i in range(1, n):
        pair = np.exp(la[i - 1][:, None] + T[:L] + (S[i] + lb[i])[None, :] - logZ)
        dT[:L] += pair
        dT[gold_idx[i - 1], gold_idx[i]] -= 1.0
    return nll, dS, dT


def viterbi_decode(S: np.ndarray, T: np.ndarray) -> list[int]:
    """Exact max-score path through emissions S (n, L) under transitions
    T (L+1, L; row L = start). Shared by both neural learners."""
    n, L = S.shape
    dp = S[0] + T[L]
    back = np.zeros((n, L), dtype=np.int64)
    for i in range(1, n):
        scores = dp[:, None] + T[:L]
        back[i] = scores.argmax(axis=0)
        dp = S[i] + scores.max(axis=0)
    path = [int(dp.argmax())]
    for i in range(n - 1, 0, -1):
        path.append(int(back[i, path[-1]]))
    path.reverse()
    return path


def resolve_label_set(examples, labels) -> list[str]:
    """Sorted label list for a fit() call, shared by both neural
    learners: derived from the examples when ``labels`` is None,
    otherwise the supplied set (plus 'O') VALIDATED against the
    examples — a label outside the supplied set would otherwise surface
    as an opaque KeyError from the gold-index lookup. Safe for
    fit_sharded (which derives labels globally); the public kwarg
    invites mismatches."""
    if labels is None:
        label_set = {"O"}
        for _, g in examples:
            label_set.update(g)
        return sorted(label_set)
    out = sorted(set(labels) | {"O"})
    unknown = {y for _, g in examples for y in g} - set(out)
    if unknown:
        raise ValueError(
            f"example labels {sorted(unknown)} not in the supplied "
            f"label set {out}"
        )
    return out


class _LSTM:
    """One-direction LSTM with exact BPTT. Gate layout in z: [i f o g]."""

    def __init__(self, rng: np.random.RandomState, d_in: int, h: int) -> None:
        s = 1.0 / np.sqrt(h)
        self.Wx = rng.uniform(-s, s, (d_in, 4 * h))
        self.Wh = rng.uniform(-s, s, (h, 4 * h))
        self.b = np.zeros(4 * h)
        # forget-gate bias 1.0: standard initialization so early gradients
        # flow through the cell state
        self.b[h : 2 * h] = 1.0
        self.h = h

    def forward(self, X: np.ndarray):
        n, h = X.shape[0], self.h
        cache = []
        H = np.zeros((n, h))
        hp, cp = np.zeros(h), np.zeros(h)
        for t in range(n):
            z = X[t] @ self.Wx + hp @ self.Wh + self.b
            i, f, o = _sigmoid(z[:h]), _sigmoid(z[h : 2 * h]), _sigmoid(z[2 * h : 3 * h])
            g = np.tanh(z[3 * h :])
            c = f * cp + i * g
            tc = np.tanh(c)
            ht = o * tc
            cache.append((X[t], hp, cp, i, f, o, g, c, tc))
            H[t] = ht
            hp, cp = ht, c
        return H, cache

    def backward(self, dH: np.ndarray, cache) -> tuple[np.ndarray, dict]:
        n, h = dH.shape[0], self.h
        dWx = np.zeros_like(self.Wx)
        dWh = np.zeros_like(self.Wh)
        db = np.zeros_like(self.b)
        dX = np.zeros((n, self.Wx.shape[0]))
        dh_next = np.zeros(h)
        dc_next = np.zeros(h)
        for t in range(n - 1, -1, -1):
            x, hp, cp, i, f, o, g, c, tc = cache[t]
            dh = dH[t] + dh_next
            do = dh * tc
            dc = dh * o * (1.0 - tc * tc) + dc_next
            di = dc * g
            df = dc * cp
            dg = dc * i
            dc_next = dc * f
            dz = np.concatenate(
                [
                    di * i * (1.0 - i),
                    df * f * (1.0 - f),
                    do * o * (1.0 - o),
                    dg * (1.0 - g * g),
                ]
            )
            dWx += np.outer(x, dz)
            dWh += np.outer(hp, dz)
            db += dz
            dX[t] = dz @ self.Wx.T
            dh_next = dz @ self.Wh.T
        return dX, {"Wx": dWx, "Wh": dWh, "b": db}


class DenseShardedFit(ShardedFit):
    """What the two neural learners (BiLSTMCRFLearner, learners_tx's
    TransformerCRFLearner) share: token encoding, the seeded embedding
    tables, the fitted check on scoring, and the dense side of
    ``ShardedFit.fit_sharded`` — iterative MODEL AVERAGING of parameter
    tensors. Round 0 starts from ONE seeded init built on the driver over
    the global vocab (shards starting from unrelated bases would average
    to noise; a shared vocab keeps every shard's tensors row-aligned);
    each round runs ``epochs // mix_rounds`` local SGD epochs, and the
    driver averages every tensor (an LSTM's (Wx, Wh, b) element by
    element). A subclass provides ``_build``, ``fit``, ``export_params``,
    ``_load_params`` and ``_decode``."""

    n_shards = 8

    def _build_embeddings(self, vocab: list[str]):
        """Seeded RNG, vocab index, word table E (frozen pretrained rows
        when ``word_vectors`` is given — nn.Embedding.from_pretrained,
        the unknown row stays zero like the reference's appended zero row
        — else trainable random rows) and char-trigram table C: the first
        draws of every ``_build``. Returns (rng, E, C)."""
        rng = np.random.RandomState(self.seed)
        self.vocab = {w: i + 1 for i, w in enumerate(vocab)}  # 0 = <unk>
        if self.word_vectors:
            self.embedding_dim = len(next(iter(self.word_vectors.values())))
            E = np.zeros((len(vocab) + 1, self.embedding_dim))
            for w, i in self.vocab.items():
                if w.lower() in self.word_vectors:
                    E[i] = np.asarray(self.word_vectors[w.lower()], dtype=float)
            self._freeze_emb = True
        else:
            E = rng.uniform(-0.1, 0.1, (len(vocab) + 1, self.embedding_dim))
            self._freeze_emb = False
        C = rng.uniform(-0.1, 0.1, (_CHAR_BUCKETS, self.char_dim))
        return rng, E, C

    def _encode(self, words: Sequence[str]):
        ids = np.array([self.vocab.get(w.lower(), _UNK) for w in words], dtype=np.int64)
        chars = [_char_trigram_ids(w) for w in words]
        return ids, chars

    def __call__(self, sentences: list[list[str]]) -> list[list[str]]:
        if self._params is None:
            raise RuntimeError("fit() must run before scoring")
        return [self._decode(s) for s in sentences]

    # --------------------------------------------- ShardedFit hooks

    def _mix_start(self, sh) -> dict:
        from pyspark.sql import functions as F

        # distributed distinct, then a dictionary-scale collect (the same
        # class of collect the frequency learner's table fit performs)
        vocab = sorted(
            r["w"] for r in
            sh.select(F.explode("words").alias("w"))
            .select(F.lower("w").alias("w")).distinct().collect()
        )
        self._build(vocab)
        return self.export_params()

    def _fit_shard(self, examples, labels, init, mix_rounds, last_round):
        self.fit(
            examples, epochs=max(self.epochs // mix_rounds, 1),
            labels=labels, vocab=init["vocab"], init_params=init,
        )
        return self.export_params()

    def _mix(self, states) -> dict:
        n = len(states)
        out = dict(states[0])  # labels and vocab are the same on every shard
        for k, v in states[0].items():
            if isinstance(v, tuple):  # an LSTM's (Wx, Wh, b)
                out[k] = tuple(sum(s[k][i] for s in states) / n for i in range(len(v)))
            elif isinstance(v, np.ndarray):
                out[k] = sum(s[k] for s in states) / n
        return out

    def _adopt(self, state) -> None:
        self._load_params(state)


class BiLSTMCRFLearner(DenseShardedFit):
    """Numpy BiLSTM-CRF honoring the PerceptronLearner call contract:
    ``fit(examples)``, ``learner(sentences) -> label lists``,
    ``fresh()`` — so Model.fit/save/load and the broadcast Arrow scoring
    stage work unchanged."""

    def __init__(
        self,
        embedding_dim: int = 25,
        char_dim: int = 8,
        hidden_dim: int = 32,
        epochs: int = 30,
        lr: float = 0.01,
        clip: float = 5.0,
        seed: int = 1,
        word_vectors: dict[str, Sequence[float]] | None = None,
    ) -> None:
        self.embedding_dim = embedding_dim
        self.char_dim = char_dim
        self.hidden_dim = hidden_dim
        self.epochs = epochs
        self.lr = lr
        self.clip = clip
        self.seed = seed
        self.word_vectors = dict(word_vectors) if word_vectors else None
        self.labels: list[str] = ["O"]
        self._params = None

    def fresh(self) -> "BiLSTMCRFLearner":
        return BiLSTMCRFLearner(
            self.embedding_dim, self.char_dim, self.hidden_dim, self.epochs,
            self.lr, self.clip, self.seed, self.word_vectors,
        )

    # ------------------------------------------------------------ internals

    def _build(self, vocab: list[str]) -> None:
        rng, E, C = self._build_embeddings(vocab)
        d_in = self.embedding_dim + self.char_dim
        h, L = self.hidden_dim, len(self.labels)
        self.fwd = _LSTM(rng, d_in, h)
        self.bwd = _LSTM(rng, d_in, h)
        s = 1.0 / np.sqrt(h)
        self._params = {
            "E": E,
            "C": C,
            "Wo": rng.uniform(-s, s, (2 * h, L)),
            "bo": np.zeros(L),
            "T": np.zeros((L + 1, L)),  # row L = start transitions
        }

    def _emissions(self, words: Sequence[str], want_cache: bool = False):
        p = self._params
        ids, chars = self._encode(words)
        X = np.concatenate(
            [p["E"][ids], np.stack([p["C"][c].sum(axis=0) for c in chars])], axis=1
        )
        Hf, cf = self.fwd.forward(X)
        Hb, cb = self.bwd.forward(X[::-1])
        H = np.concatenate([Hf, Hb[::-1]], axis=1)
        S = H @ p["Wo"] + p["bo"]
        if not want_cache:
            return S
        return S, (ids, chars, X, Hf, cf, Hb, cb, H)

    def _crf_nll_grads(self, S: np.ndarray, gold_idx: np.ndarray):
        return crf_nll_grads(S, self._params["T"], gold_idx)

    def _sentence_grads(self, words: Sequence[str], gold_idx: np.ndarray):
        """Full backprop for one sentence: loss + gradient dict keyed like
        _params plus the two LSTMs' parameter grads."""
        p = self._params
        S, (ids, chars, X, Hf, cf, Hb, cb, H) = self._emissions(words, want_cache=True)
        nll, dS, dT = self._crf_nll_grads(S, gold_idx)
        h = self.hidden_dim
        dH = dS @ p["Wo"].T
        dWo = H.T @ dS
        dbo = dS.sum(axis=0)
        dXf, gf = self.fwd.backward(dH[:, :h], cf)
        dXb, gb = self.bwd.backward(dH[:, h:][::-1], cb)
        dX = dXf + dXb[::-1]
        de = X.shape[1] - self.char_dim
        grads = {"Wo": dWo, "bo": dbo, "T": dT, "fwd": gf, "bwd": gb}
        if not self._freeze_emb:
            dE = np.zeros_like(p["E"])
            np.add.at(dE, ids, dX[:, :de])
            grads["E"] = dE
        dC = np.zeros_like(p["C"])
        for t, c in enumerate(chars):
            np.add.at(dC, c, dX[t, de:])
        grads["C"] = dC
        return nll, grads

    def _apply(self, grads: dict, lr: float) -> None:
        p = self._params
        flat: list[np.ndarray] = []

        def walk(g):
            for v in g.values():
                if isinstance(v, dict):
                    walk(v)
                else:
                    flat.append(v)

        walk(grads)
        norm = float(np.sqrt(sum((v * v).sum() for v in flat)))
        scale = lr * (self.clip / norm if norm > self.clip else 1.0)
        for k in ("Wo", "bo", "T", "E", "C"):
            if k in grads:
                p[k] -= scale * grads[k]
        for name, lstm in (("fwd", self.fwd), ("bwd", self.bwd)):
            lstm.Wx -= scale * grads[name]["Wx"]
            lstm.Wh -= scale * grads[name]["Wh"]
            lstm.b -= scale * grads[name]["b"]

    # ------------------------------------------------------------- fit/call

    def fit(
        self,
        examples: Iterable[tuple[Sequence[str], Sequence[str]]],
        epochs: int | None = None,
        labels: Sequence[str] | None = None,
        vocab: Sequence[str] | None = None,
        init_params: dict | None = None,
    ) -> "BiLSTMCRFLearner":
        """``labels`` / ``vocab`` fix the global decode classes and
        embedding rows (the sharded fit passes both so every shard's
        parameter tensors are shape- and row-aligned); ``init_params``
        warm-starts from an export_params() dict instead of the seeded
        random init."""
        examples = [(list(w), list(g)) for w, g in examples if len(w)]
        self.labels = resolve_label_set(examples, labels)
        lab_i = {y: i for i, y in enumerate(self.labels)}
        if vocab is None:
            vocab = sorted({w.lower() for ws, _ in examples for w in ws})
        self._build(list(vocab))
        if init_params is not None:
            self._load_params(init_params)
        gold = [np.array([lab_i[y] for y in g], dtype=np.int64) for _, g in examples]
        for _ in range(self.epochs if epochs is None else epochs):
            # fixed in-order passes (no shuffling): deterministic like the
            # rest of the repo; the reference seeds torch for the same end
            for (words, _), gi in zip(examples, gold):
                _, grads = self._sentence_grads(words, gi)
                self._apply(grads, self.lr)
        return self

    # ------------------------------------------------- parameter transport

    def export_params(self) -> dict:
        """Dense parameter snapshot for averaging/transport (arrays are
        copies; vocab/labels ride along so a receiver can _load_params
        into an identically-built learner)."""
        p = self._params
        return {
            "labels": list(self.labels),
            "vocab": sorted(self.vocab, key=self.vocab.get),
            "E": p["E"].copy(), "C": p["C"].copy(),
            "Wo": p["Wo"].copy(), "bo": p["bo"].copy(), "T": p["T"].copy(),
            "fwd": (self.fwd.Wx.copy(), self.fwd.Wh.copy(), self.fwd.b.copy()),
            "bwd": (self.bwd.Wx.copy(), self.bwd.Wh.copy(), self.bwd.b.copy()),
        }

    def _load_params(self, d: dict) -> None:
        p = self._params
        for k in ("E", "C", "Wo", "bo", "T"):
            if p[k].shape != d[k].shape:
                raise ValueError(f"param {k}: shape {d[k].shape} != {p[k].shape}")
            p[k][...] = d[k]
        for name, lstm in (("fwd", self.fwd), ("bwd", self.bwd)):
            lstm.Wx[...], lstm.Wh[...], lstm.b[...] = d[name]

    def _decode(self, words: Sequence[str]) -> list[str]:
        if not words:
            return []
        S = self._emissions(words)
        path = viterbi_decode(S, self._params["T"])
        return [self.labels[i] for i in path]
