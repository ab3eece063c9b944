"""Learners behind the X2/X3 broadcast contract.

The reference trains CRF/BiLSTM/BERT learners driver-side, one spaCy Doc
at a time (model.py:88-152; bilstm_crf_learner.py, bert_learner.py —
torch/sklearn_crfsuite are not in this container). This module provides a
non-trivial numpy-only stand-in with the same two-sided contract as
model.FrequencyLearner:

  * fit        — driver-side over collected training sentences (the
                 reference's own X3 shape: training is never distributed
                 there), OR ``ShardedFit.fit_sharded``: iterative
                 parameter mixing where each shard trains a local
                 learner inside an Arrow batch and the driver averages
                 the shard states (McDonald et al. 2010, "Distributed
                 training strategies for the structured perceptron" —
                 public). Every sequence learner, the neural ones in
                 learners_nn / learners_tx included, inherits that one
                 mixing loop and supplies only its hooks.
  * __call__   — (sentences: list[list[str]]) -> list[list[str]] label
                 lists, broadcast to executors and scored in the Arrow
                 batch stage (operators/ner_model.score_sentences).

The model is an averaged structured perceptron (Collins 2002) with
hashed sparse features (stable crc32 — never Python ``hash``, which is
per-process salted) over a ±k word window, plus a previous-label
transition feature decoded EXACTLY with Viterbi (O(L²) per token over a
label set of ≤dozens — negligible next to the emission dot products).
Weights live in a dict keyed (label, feature-hash): vocabulary-scale,
pickles cleanly for broadcast.
"""

from __future__ import annotations

import zlib
from collections import defaultdict
from collections.abc import Iterable, Sequence

D = 1 << 20  # feature-hash space

_START = "<s>"


def _h(s: str) -> int:
    return zlib.crc32(s.encode()) % D


def token_features(words: Sequence[str], i: int, k: int = 2) -> list[int]:
    """Static (emission) hashed feature ids for token i: surface/prefix/
    suffix/shape-lite of the token and lowercased neighbors in ±k. The
    previous-label transition feature is handled separately by Viterbi."""
    w = words[i]
    lw = w.lower()
    feats = [
        _h("bias"),
        _h("w=" + lw),
        _h("suf3=" + lw[-3:]),
        _h("pre1=" + lw[:1]),
        _h("isnum=" + str(w.replace(".", "", 1).isdigit())),
        _h("istitle=" + str(w.istitle())),
    ]
    for off in range(-k, k + 1):
        if off == 0:
            continue
        j = i + off
        nb = words[j].lower() if 0 <= j < len(words) else "<pad>"
        feats.append(_h(f"{off}:w={nb}"))
    return feats


def _trans_feat(prev_label: str) -> int:
    # transition ids live in [D, 2D): emission features hash into [0, D),
    # so a transition weight can never collide with an emission weight in
    # the shared (label, fid) dict. Matters for the CRF, which trains
    # emissions and transitions in SEPARATE arrays and exports both into
    # one dict — an in-range collision would silently overwrite a trained
    # emission weight at export (the perceptron trains through the
    # aliased dict, so it was self-consistent either way).
    return D + _h("prev_label=" + prev_label)


class ShardedFit:
    """Distributed fit by ITERATIVE parameter mixing (McDonald, Hall &
    Mann, NAACL 2010; the same topology as federated averaging), shared
    by every sequence learner. A learner supplies four hooks:

      * ``_mix_start(sh)``   — the state round 0 starts from (may collect
                               from the sharded frame ``sh``);
      * ``_fit_shard(examples, labels, init, mix_rounds, last_round)`` —
                               one shard's local fit from ``init``,
                               returning its end-state;
      * ``_mix(states)``     — the average of the shard states;
      * ``_adopt(state)``    — take the final mixed state as the model.

    ``n_shards`` is the class's default shard count.
    """

    n_shards = 32

    def fit_sharded(
        self, sentence_df, n_shards: int | None = None, mix_rounds: int = 3
    ) -> "ShardedFit":
        """Shard sentences deterministically by doc key; each round, every
        shard fits a local learner inside a grouped Arrow batch (a pandas
        UDF — never row-level Python) STARTING FROM the previous round's
        mixed state, over the GLOBAL label set; the driver averages the
        shard states. One-shot mixing washes out when shards are
        few/heterogeneous (measured on the perceptron: 7 vs 82 non-O
        predictions on the reference corpus); re-seeding each round makes
        the shards converge on a shared model. Only n_shards states per
        round reach the driver — model-scale, never corpus-scale.

        sentence_df columns: doc_id (any orderable), sent_id int,
        words array<string>, labels array<string> — the Model.fit contract.
        """
        import pickle

        import pandas as pd
        from pyspark.sql import functions as F

        if n_shards is None:
            n_shards = self.n_shards
        sh = sentence_df.select(
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_shards))
            .cast("int").alias("shard"),
            "doc_id", "sent_id", "words", "labels",
        ).localCheckpoint(eager=False)  # rounds re-read it; cut the upstream

        # distributed distinct over the CHECKPOINTED table (shares its
        # materialization with the rounds), then a dictionary-scale collect
        global_labels = sorted(
            {"O"}
            | {r["l"] for r in
               sh.select(F.explode("labels").alias("l")).distinct().collect()}
        )
        self.labels = global_labels
        mixed = self._mix_start(sh)
        proto = self.fresh()  # untrained prototype; ships the subclass

        def make_train(init_blob: bytes, last_round: bool):
            def train(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values(["doc_id", "sent_id"])  # deterministic
                state = proto.fresh()._fit_shard(
                    list(zip(pdf["words"], pdf["labels"])),
                    global_labels, pickle.loads(init_blob),
                    mix_rounds, last_round,
                )
                return pd.DataFrame({
                    "shard": [int(pdf["shard"].iloc[0])],
                    "blob": [pickle.dumps(state)],
                })
            return train

        for rnd in range(mix_rounds):
            rows = (
                sh.groupBy("shard")
                .applyInPandas(
                    make_train(pickle.dumps(mixed), rnd == mix_rounds - 1),
                    "shard int, blob binary",
                )
                .collect()
            )
            states = [pickle.loads(bytes(r["blob"]))
                      for r in sorted(rows, key=lambda r: r["shard"])]
            if states:  # a frame with no rows has no shards: keep the start
                mixed = self._mix(states)
        self._adopt(mixed)
        return self


class PerceptronLearner(ShardedFit):
    """Averaged structured perceptron; plugs into model.Model and the
    operators/ner_model broadcast + Arrow batch contract."""

    def __init__(self, epochs: int = 5, window: int = 2) -> None:
        self.epochs = epochs
        self.window = window
        self.weights: dict[tuple[str, int], float] = {}
        self.labels: list[str] = ["O"]
        # weight-format marker: 2 = transition ids in [D, 2D). Model.load
        # migrates version-less (pre-move) pickles.
        self.weights_version = 2

    def fresh(self) -> "PerceptronLearner":
        return PerceptronLearner(self.epochs, self.window)

    # ------------------------------------------------------------- scoring

    def _score(self, feats: list[int], label: str) -> float:
        w = self.weights
        return sum(w.get((label, f), 0.0) for f in feats)

    def _viterbi(self, words: Sequence[str]) -> list[str]:
        """Exact argmax over label sequences: emission scores from the
        static features, transition score = weight of the prev_label
        feature under the current label. Score ties break toward the
        lexicographically LARGEST label at each step (deterministic)."""
        n = len(words)
        if n == 0:
            return []
        L = self.labels
        w = self.weights
        trans = {
            p: {y: w.get((y, _trans_feat(p)), 0.0) for y in L}
            for p in [_START, *L]
        }
        emit0 = token_features(words, 0, self.window)
        dp = {y: self._score(emit0, y) + trans[_START][y] for y in L}
        back: list[dict[str, str]] = []
        for i in range(1, n):
            emits = token_features(words, i, self.window)
            ndp: dict[str, float] = {}
            bp: dict[str, str] = {}
            for y in L:
                e = self._score(emits, y)
                best_p = max(L, key=lambda p: (dp[p] + trans[p][y], p))
                ndp[y] = dp[best_p] + trans[best_p][y] + e
                bp[y] = best_p
            dp = ndp
            back.append(bp)
        last = max(L, key=lambda y: (dp[y], y))
        path = [last]
        for bp in reversed(back):
            path.append(bp[path[-1]])
        path.reverse()
        return path

    def __call__(self, sentences: list[list[str]]) -> list[list[str]]:
        return [self._viterbi(s) for s in sentences]

    # ----------------------------------------------------------------- fit

    def fit(
        self,
        examples: Iterable[tuple[Sequence[str], Sequence[str]]],
        epochs: int | None = None,
        labels: Sequence[str] | None = None,
        init: dict[tuple[str, int], float] | None = None,
        average: bool = True,
    ) -> "PerceptronLearner":
        """Collins-style structured perceptron: Viterbi-decode the whole
        sentence under current weights, then update emission AND transition
        features along the gold path (+1) and the predicted path (−1)
        wherever they differ; running-average trick (final = w − u/t).

        ``labels`` fixes the decode label set (the distributed fit passes
        the GLOBAL set so every shard decodes over the same classes);
        ``init`` warm-starts the weights and ``average=False`` returns the
        raw end-state — the pieces iterative parameter mixing needs.
        """
        examples = list(examples)
        if labels is None:
            label_set = {"O"}
            for _, ls in examples:
                label_set.update(ls)
            self.labels = sorted(label_set)
        else:
            self.labels = sorted(set(labels) | {"O"})
        w: dict[tuple[str, int], float] = defaultdict(float, init or {})
        u: dict[tuple[str, int], float] = defaultdict(float)
        t = 1
        self.weights = w
        for _ in range(epochs or self.epochs):
            for words, gold in examples:
                pred = self._viterbi(words)
                if list(pred) != list(gold):
                    gp, pp = _START, _START
                    for i in range(len(words)):
                        feats = token_features(words, i, self.window)
                        g, y = gold[i], pred[i]
                        if g != y:
                            for f in feats:
                                w[(g, f)] += 1.0
                                u[(g, f)] += t
                                w[(y, f)] -= 1.0
                                u[(y, f)] -= t
                        if (g, gp) != (y, pp):
                            w[(g, _trans_feat(gp))] += 1.0
                            u[(g, _trans_feat(gp))] += t
                            w[(y, _trans_feat(pp))] -= 1.0
                            u[(y, _trans_feat(pp))] -= t
                        gp, pp = g, y
                t += 1
        if average:
            self.weights = {
                k: v - u[k] / t for k, v in w.items() if v - u[k] / t != 0.0
            }
        else:
            self.weights = {k: v for k, v in w.items() if v != 0.0}
        return self

    # --------------------------------------------- ShardedFit hooks

    def _mix_start(self, sh) -> dict[tuple[str, int], float]:
        return {}

    def _fit_shard(self, examples, labels, init, mix_rounds, last_round):
        # raw end-states in the early rounds; averaging only in the last
        self.fit(examples, labels=labels, init=init, average=last_round)
        return self.weights

    def _mix(self, states) -> dict[tuple[str, int], float]:
        merged: dict[tuple[str, int], float] = defaultdict(float)
        n = len(states)
        for w in states:
            for k, v in w.items():
                merged[k] += v / n
        return dict(merged)

    def _adopt(self, state) -> None:
        self.weights = state


class CRFLearner(PerceptronLearner):
    """Numpy linear-chain CRF — the honest X3 stand-in for the reference's
    sklearn_crfsuite learner (crf_learner.py:8-13: algorithm='l2sgd',
    c2=0.1), trainable in this container (no sklearn/torch needed).

    Same parameterization as the perceptron (hashed emission features +
    previous-label transitions) but trained by stochastic gradient ascent
    on the l2-regularized conditional log-likelihood: per sentence, exact
    forward-backward marginals in log space give the expected feature
    counts, the gradient is empirical − expected, and the L2 term is
    applied with the standard weight-scaling trick (one scalar decay per
    step, never an O(D) pass), its share matched to crfsuite's relative
    regularizer strength under the per-token gradient normalization.
    Learning rate anneals per EPOCH (eta0/(1+epoch)) — the measured-in
    choice; see the in-code notes for the two rejected per-step schedules.
    No RNG anywhere: zero init, in-order passes — bit-reproducible.

    The final weights are exported to the SAME sparse dict format the
    perceptron uses, so Viterbi decoding, broadcast scoring
    (operators/ner_model.py), save/load, and iterative parameter mixing
    (fit_sharded) are all inherited unchanged. Probabilistic training
    makes it markedly more robust to label noise than the perceptron's
    hard mistake-driven updates (tested on a noisy synthetic corpus).
    """

    def __init__(
        self,
        epochs: int = 10,
        window: int = 2,
        c2: float = 0.1,
        eta0: float = 1.0,
        max_seg: int = 150,
    ) -> None:
        super().__init__(epochs, window)
        self.c2 = c2
        self.eta0 = eta0
        self.max_seg = max_seg

    def fresh(self) -> "CRFLearner":
        return CRFLearner(self.epochs, self.window, self.c2, self.eta0, self.max_seg)

    def fit(
        self,
        examples: Iterable[tuple[Sequence[str], Sequence[str]]],
        epochs: int | None = None,
        labels: Sequence[str] | None = None,
        init: dict[tuple[str, int], float] | None = None,
        average: bool = True,  # accepted for contract parity; SGD+L2 needs no averaging
    ) -> "CRFLearner":
        import numpy as np

        from medacy_spark.learners_nn import _lse as lse

        # bound TRAINING sequence length: one-doc-one-sequence corpora
        # (directory corpora without sentence splits) hand us 7k-token
        # "sentences" — one giant gradient step per epoch trains nothing.
        # Chunk into max_seg-token segments (truncated linear chains, the
        # standard practice); decoding stays full-sequence Viterbi.
        max_seg = self.max_seg
        examples = [
            (w[j : j + max_seg], g[j : j + max_seg])
            for w, g in ((list(w), list(g)) for w, g in examples)
            for j in range(0, max(len(w), 1), max_seg)
        ]
        if labels is None:
            label_set = {"O"}
            for _, ls in examples:
                label_set.update(ls)
            self.labels = sorted(label_set)
        else:
            self.labels = sorted(set(labels) | {"O"})
        L = len(self.labels)
        lab_i = {y: i for i, y in enumerate(self.labels)}
        # featurize once; index the observed emission features PLUS any
        # warm-start emission fids (ids < D — transitions live in [D, 2D)).
        # Without the union, fit_sharded's parameter mixing silently drops
        # init weights for features this shard never sees, attenuating
        # rare-entity emissions ~1/n_shards per round.
        featized = [
            [token_features(w, i, self.window) for i in range(len(w))]
            for w, _ in examples
        ]
        init_fids = {f for (_, f) in (init or {}) if f < D}
        fids = sorted(
            {f for sent in featized for fs in sent for f in fs} | init_fids
        )
        fidx = {f: i for i, f in enumerate(fids)}
        rows_per_sent = [
            [np.array([fidx[f] for f in fs], dtype=np.int64) for fs in sent]
            for sent in featized
        ]
        W = np.zeros((len(fids), L))
        T = np.zeros((L + 1, L))  # row L = start (_START transitions)
        trans_fid = {p: _trans_feat(p) for p in [_START, *self.labels]}
        if init:
            tset = {fid: p for p, fid in trans_fid.items()}
            for (y, f), v in init.items():
                if y not in lab_i:
                    continue
                if f in tset:
                    p = tset[f]
                    T[L if p == _START else lab_i[p], lab_i[y]] = v
                elif f in fidx:
                    W[fidx[f], lab_i[y]] = v

        s = 1.0  # scale: true weights = s * (W, T)
        # Learning-rate schedule: constant within an epoch, 1/(1+epoch)
        # across epochs. Two rejected alternatives, both measured on the
        # 294-sentence clinical corpus: Bottou's per-step eta0/(1+eta0·c2·t)
        # with the RAW c2 anneals ~n̄·N/2 times too fast under per-token
        # gradient normalization (optimizer froze in the all-O basin,
        # token-F1 0.0), and the correctly-matched per-step λ barely
        # anneals at all on small corpora, leaving a noisy last iterate
        # (more epochs made results WORSE: 0.25 → 0.04). Per-epoch 1/t
        # explores early and settles late, deterministically.
        t = 0
        for epoch in range(epochs or self.epochs):
            eta = self.eta0 / (1.0 + epoch)
            for (words, gold), rows in zip(examples, rows_per_sent):
                n = len(words)
                if n == 0:
                    continue
                t += 1
                # L2 decay, scaled to crfsuite's RELATIVE regularizer
                # strength: crfsuite steps w -= eta(∇(-LL_i) + (2c2/N)w);
                # our data gradient is additionally divided by n_i (the
                # per-token normalization above), so the decay share must
                # be divided by n_i too — eta·2·c2/(N·n_i). Using the
                # per-example share 2c2/N alone over-regularizes by the
                # sentence length (measured: c2=0.1 collapsed a
                # 294-sentence clinical corpus to all-O; this scaling
                # learns at the reference's own c2=0.1), and a full
                # eta·c2 decay per step over-shrinks by another factor N.
                s *= max(
                    1.0 - eta * 2.0 * self.c2 / max(len(examples) * n, 1), 1e-12
                )
                if s < 1e-6:
                    W *= s
                    T *= s
                    s = 1.0
                S = np.stack([W[r].sum(axis=0) for r in rows]) * s
                Ts = T * s
                la = np.empty((n, L))
                la[0] = S[0] + Ts[L]
                for i in range(1, n):
                    la[i] = S[i] + lse(la[i - 1][:, None] + Ts[:L], axis=0)
                lb = np.zeros((n, L))
                for i in range(n - 2, -1, -1):
                    lb[i] = lse(Ts[:L] + (S[i + 1] + lb[i + 1])[None, :], axis=1)
                logZ = lse(la[-1], axis=0)
                marg = np.exp(la + lb - logZ)  # (n, L)
                # per-TOKEN gradient normalization: a degenerate 7k-token
                # "sentence" (one-doc-one-sequence corpora) must not take
                # a 7k-times-larger step than a 10-token one — unnormalized
                # sentence gradients oscillate and collapse to all-O there
                # (observed on the reference PMC sample corpus)
                g = eta / (s * n)
                # emission gradient: empirical - expected, per token
                for i in range(n):
                    vec = -marg[i]
                    vec[lab_i[gold[i]]] += 1.0
                    np.add.at(W, rows[i], g * vec)
                # transition gradient
                Tg = np.zeros((L + 1, L))
                Tg[L] = -marg[0]
                Tg[L, lab_i[gold[0]]] += 1.0
                for i in range(1, n):
                    pair = np.exp(
                        la[i - 1][:, None] + Ts[:L] + (S[i] + lb[i])[None, :] - logZ
                    )
                    Tg[:L] -= pair
                    Tg[lab_i[gold[i - 1]], lab_i[gold[i]]] += 1.0
                T += g * Tg
        weights: dict[tuple[str, int], float] = {}
        nz = np.nonzero(W)
        for r, c in zip(*nz):
            weights[(self.labels[c], fids[r])] = s * W[r, c]
        for pi in range(L + 1):
            p = _START if pi == L else self.labels[pi]
            for yi in range(L):
                v = s * T[pi, yi]
                if v != 0.0:
                    weights[(self.labels[yi], trans_fid[p])] = v
        self.weights = weights
        return self
