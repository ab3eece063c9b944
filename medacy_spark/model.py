"""Model facade: fit / predict / cross_validate (reference Model API).

Mirrors medacy's main entry surface (medacy/model/model.py:200-475):
``Model(pipeline).fit(dataset)``, ``predict(dataset)``,
``cross_validate(num_folds)`` — re-expressed over DataFrames:

  * fit        — tokenize + gold overlay (J7) → learner fit. Learner
                 training is driver-side in the reference (X3: no
                 distribution whatsoever); here the *statistics* are
                 computed distributed and only the model artifact
                 (vocab-scale) is collected + broadcast.
  * predict    — X2: broadcast model scored in an Arrow-batched stage →
                 island merge (W2) → mentions (the S4 sink shape).
  * cross_validate — X4 stratified folds → per-fold fit/predict →
                 strict Measures per (fold, tag) → A5 mean/min/max.

The default learner is ``FrequencyLearner`` (most-frequent-tag-per-word
+ the unit adjacency rules), fitted from a distributed count table. The
sequence learners — ``learners.PerceptronLearner`` and ``CRFLearner``,
``learners_nn.BiLSTMCRFLearner``, ``learners_tx.TransformerCRFLearner``
(the reference's CRF/BiLSTM/BERT families, implemented in numpy) — train
through the same facade, e.g. ``Model(spark, CRFLearner()).fit(...)``,
driver-side or by the sharded parameter-mixing fit they all inherit
from ``learners.ShardedFit``. Any callable (sentences -> label lists)
plugs into the same broadcast + batch scoring contract
(operators/ner_model.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medacy_spark.corpus import lexicons as lex
from medacy_spark.operators.ner_model import model_mentions
from medacy_spark.operators.overlay import gold_overlay
from medacy_spark.operators.scoring import measures, with_prf
from medacy_spark.operators.tokenize import tokenize_native


class FrequencyLearner:
    """Most-frequent-tag-per-surface-form sequence labeler, with the
    number+unit adjacency rules for spans frequency can't see. Pickles
    cleanly (S7: model artifact dump/load is plain serialization)."""

    def __init__(self) -> None:
        self.table: dict[str, str] = {}
        self.dose_units = {u.lower() for u in lex.DOSE_UNITS}
        self.time_units = {u.lower() for u in lex.TIME_UNITS}

    def fit_table(self, table: dict[str, str]) -> "FrequencyLearner":
        self.table = table
        return self

    def fresh(self) -> "FrequencyLearner":
        return FrequencyLearner()

    def __call__(self, sentences: list[list[str]]) -> list[list[str]]:
        out = []
        for words in sentences:
            labels = [self.table.get(w.lower(), "O") for w in words]
            for i, w in enumerate(words):
                if w.replace(".", "", 1).isdigit() and i + 1 < len(words):
                    nxt = words[i + 1].lower()
                    if nxt in self.dose_units:
                        labels[i] = labels[i + 1] = "Dose"
                    elif nxt in self.time_units:
                        labels[i] = labels[i + 1] = "Duration"
            out.append(labels)
        return out


def save_artifact(obj, path: str) -> None:
    """S7 pickle contract, module-level: dump any trained model artifact
    (NER learner, POS tagger, sentence-boundary model) so every trainable
    component ships/loads the same way."""
    import pickle

    with open(path, "wb") as f:
        pickle.dump(obj, f)


def load_artifact(path: str):
    """Inverse of save_artifact — a plain pickle load. Model.load layers
    its legacy-key migration on top of this for NER learners."""
    import pickle

    with open(path, "rb") as f:
        return pickle.load(f)


class Model:
    """fit/predict/cross_validate over (documents, gold_mentions) tables.

    ``tokenizer`` is any (documents -> tokens) stage with the TOKEN_SCHEMA
    contract — the default is the single-space native fast path; a
    pipeline spec (pipeline.json_to_pipeline) supplies the reference's
    clinical / systematic_review / character tokenizers instead. The
    artifact (save/load) is the learner alone, like the reference's
    pickled model: the pipeline is given per run.
    """

    def __init__(
        self,
        spark: SparkSession,
        learner: FrequencyLearner | None = None,
        tokenizer=None,
    ):
        self.spark = spark
        self.learner = learner or FrequencyLearner()
        self.tokenizer = tokenizer or tokenize_native
        # sequence-learner fit dispatch: corpora at or below this many
        # sentences collect to the driver (the reference's own training
        # shape); larger ones use sharded iterative parameter mixing
        self.driver_fit_max_sentences = 50_000
        # training sequences longer than this are windowed into
        # non-overlapping chunks before the fit. The reference always
        # trains on parser/sentencizer sentences (base_pipeline.py:95-99),
        # so its learners never see kilotoken sequences — but a tokenizer
        # without sentence breaks (tokenize_native on prose whose periods
        # attach to words) hands the whole document to the learner as ONE
        # training unit, and per-SEQUENCE update rules starve: 3 docs =
        # 3 structured-perceptron updates per epoch, which stays all-O
        # (measured: 0/778 non-O in-sample at 50 epochs unchunked vs
        # 511/778 chunked; see BENCH.md round 6). 256 matches the
        # transformer's max_len default. None disables.
        self.fit_max_seq_len = 256
        self._bc = None

    # ------------------------------------------------------------------ fit

    def fit(self, documents: DataFrame, gold_mentions: DataFrame) -> "Model":
        toks = self.tokenizer(documents.select("doc_id", "text"))
        labeled = gold_overlay(toks, gold_mentions)
        if hasattr(self.learner, "fit_table"):
            # distributed statistics; only the vocab-scale table is collected
            stats = (
                labeled.filter(F.col("gold_label") != "O")
                .groupBy(F.lower("word").alias("w"), "gold_label")
                .agg(F.count("*").alias("n"))
            )
            from pyspark.sql import Window

            wnd = Window.partitionBy("w").orderBy(F.col("n").desc(), F.col("gold_label"))
            top = stats.withColumn("_rn", F.row_number().over(wnd)).filter("_rn = 1")
            table = {r["w"]: r["gold_label"] for r in top.collect()}
            self.learner.fit_table(table)
        else:
            # sequence learners (learners.ShardedFit subclasses): below
            # the threshold, collect and fit driver-side — exactly the
            # reference's X3 shape (training is never distributed there)
            # and the best-quality fit on directory-scale corpora; above
            # it, fit_sharded's iterative parameter mixing inside Arrow
            # batches at the learner class's default shard count, where
            # only one model-scale state per shard and round reaches the
            # driver
            sent_df = labeled.groupBy("doc_id", "sent_id").agg(
                F.array_sort(
                    F.collect_list(F.struct("tok_id", "word", "gold_label"))
                ).alias("a")
            ).select(
                "doc_id", "sent_id",
                F.transform("a", lambda x: x["word"]).alias("words"),
                F.transform("a", lambda x: x["gold_label"]).alias("labels"),
            # cut the lineage: the count, the collect/shard passes and the
            # label scan would each re-run tokenize + overlay otherwise
            ).localCheckpoint(eager=False)
            limit = self.fit_max_seq_len
            if limit:
                # window overlong sequences into ≤limit-token chunks.
                # sent_id is rescaled so chunk keys stay unique and keep
                # the original order — fit_sharded's in-shard sort and the
                # driver path's orderBy both rely on distinct keys for a
                # deterministic sequence order
                nparts = F.greatest(F.ceil(F.size("words") / limit), F.lit(1))
                sent_df = sent_df.withColumn(
                    "part", F.explode(F.sequence(F.lit(0), (nparts - 1).cast("int")))
                ).select(
                    "doc_id",
                    (F.col("sent_id").cast("long") * 1_000_000 + F.col("part"))
                    .alias("sent_id"),
                    F.slice("words", F.col("part") * limit + 1, limit).alias("words"),
                    F.slice("labels", F.col("part") * limit + 1, limit).alias("labels"),
                )
            n_sents = sent_df.count()
            can_shard = hasattr(self.learner, "fit_sharded")
            if n_sents <= self.driver_fit_max_sentences or not can_shard:
                if n_sents > self.driver_fit_max_sentences:
                    # only learners WITHOUT a fit_sharded land here
                    # (every learners.ShardedFit subclass shards); a
                    # custom learner with only ``fit`` falls back to
                    # driver-side fit, loudly
                    import logging

                    logging.getLogger(__name__).warning(
                        "learner %s has no fit_sharded; fitting %d sentences "
                        "driver-side", type(self.learner).__name__, n_sents,
                    )
                rows = sent_df.orderBy("doc_id", "sent_id").collect()
                self.learner.fit([(list(r["words"]), list(r["labels"])) for r in rows])
            else:
                self.learner.fit_sharded(sent_df)
        self._bc = self.spark.sparkContext.broadcast(self.learner)
        return self

    # ------------------------------------------------------------ artifacts

    def save(self, path: str) -> None:
        """S7: model artifact dump — plain pickle of the learner
        (model.py:216-230 dump/load surface)."""
        save_artifact(self.learner, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str, tokenizer=None) -> "Model":
        """S7: artifact load + broadcast to executors.

        Weight-format migration: transition feature ids moved from [0, D)
        to [D, 2D) (learners._trans_feat) so they can never collide with
        emission ids. A pre-move pickle (no ``weights_version`` attr) has
        its transition keys remapped on load — best-effort: each
        (label, old-transition-id) weight is moved to the new id UNLESS
        the new key already exists. In a legacy pickle the old id is
        ambiguous — a genuine emission weight whose crc32 happens to
        equal a prev_label hash (~L²/2²⁰ probability) would be converted
        to a transition weight by this rule; that ambiguity is exactly
        what the id move eliminates for models saved going forward."""
        import pickle

        with open(path, "rb") as f:
            learner = pickle.load(f)
        if hasattr(learner, "weights") and not getattr(
            learner, "weights_version", None
        ):
            from medacy_spark.learners import _START, _trans_feat, _h

            old_new = {
                _h("prev_label=" + p): _trans_feat(p)
                for p in [_START, *getattr(learner, "labels", [])]
            }
            w = learner.weights
            for old, new in old_new.items():
                for y in list(getattr(learner, "labels", [])):
                    if (y, old) in w and (y, new) not in w:
                        w[(y, new)] = w.pop((y, old))
            learner.weights_version = 2
        m = cls(spark, learner, tokenizer)
        m._bc = spark.sparkContext.broadcast(learner)
        return m

    # -------------------------------------------------------------- predict

    def predict(self, documents: DataFrame) -> DataFrame:
        """-> mentions(doc_id, sent_id, tag, start, end, text)."""
        if self._bc is None:
            raise RuntimeError("fit() (or load()) must run before predict()")
        toks = self.tokenizer(documents.select("doc_id", "text"))
        return model_mentions(toks, self._bc)

    # ------------------------------------------------------- cross_validate

    def cross_validate(
        self, documents: DataFrame, gold_mentions: DataFrame, num_folds: int = 5
    ) -> DataFrame:
        """-> per-tag avg/min/max precision/recall/f1 across folds
        (model.py:332-475 shape). Rejects num_folds < 2 like the reference
        (model.py:37-38)."""
        if not isinstance(num_folds, int) or num_folds < 2:
            raise ValueError(f"'num_folds' must be an int >= 2, but is {num_folds!r}")
        from medacy_spark.operators.folds import assign_folds

        toks = self.tokenizer(documents.select("doc_id", "text"))
        labeled = gold_overlay(toks, gold_mentions)
        seqs = (
            labeled.groupBy("doc_id")
            .agg(F.array_distinct(F.collect_list("gold_label")).alias("labels"))
            .withColumnRenamed("doc_id", "seq_id")
        )
        folds = assign_folds(seqs, num_folds).withColumnRenamed("seq_id", "doc_id")
        docs_f = documents.join(folds, "doc_id")
        gold_f = gold_mentions.join(folds, "doc_id")
        per_fold = []
        for k in range(num_folds):
            train_docs = docs_f.filter(F.col("fold") != k).drop("fold")
            train_gold = gold_f.filter(F.col("fold") != k).drop("fold")
            test_docs = docs_f.filter(F.col("fold") == k).drop("fold")
            test_gold = gold_f.filter(F.col("fold") == k).drop("fold")
            m = Model(self.spark, self.learner.fresh(), self.tokenizer).fit(
                train_docs, train_gold)
            pred = m.predict(test_docs)
            scored = with_prf(measures(test_gold, pred, mode="strict"))
            per_fold.append(scored.withColumn("fold", F.lit(k)))
        all_folds = per_fold[0]
        for df in per_fold[1:]:
            all_folds = all_folds.unionByName(df)
        aggs = []
        for metric in ("precision", "recall", "f1"):
            aggs += [
                F.avg(metric).alias(f"avg_{metric}"),
                F.min(metric).alias(f"min_{metric}"),
                F.max(metric).alias(f"max_{metric}"),
            ]
        return (
            all_folds.groupBy(F.col("tag").alias("label")).agg(*aggs).orderBy("label")
        )
