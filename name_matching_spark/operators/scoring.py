"""Distributed pairwise scoring: 18 features + GBM probability + decision.

The whole scorer is ONE iterator-style Arrow-batched pandas UDF (the
north-star-sanctioned pattern): model + TF-IDF artifacts travel as JSON in
one broadcast, are parsed once per executor (lazy singleton keyed by
content hash — mirrors the reference's load-once predictor,
predict_model.py:77-110 in vietexob/name-matching, and fixes its per-call
SentenceTransformer reload), and every batch is featurized by the exact
function the trainer used, so train/serve skew is impossible.

Decision semantics preserved from the reference: probability rounded to
4 decimals in persisted outputs, prediction ``1`` iff
``prob >= DEFAULT_THRESHOLD`` (0.85, the one decision rule of the batch
and the stream path), match labels ``MATCH``/``NO_MATCH``.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from name_matching_spark.functions.features import FEATURE_COLS, build_features
from name_matching_spark.model.train import DEFAULT_THRESHOLD

# The evidence columns that must survive even when the caller drops the
# full feature vector (clustering refinement reads them) — see
# score_pairs(keep_features=False).
EVIDENCE_COLS = ("cosine_sim", "align_edit", "token_weakest_link")

# Embedding cosine at or above which a pair is a MATCH whatever its string
# probability (score_pairs' embedding OR-rule).  The clustering evidence
# rung reads the same value as near-exact evidence (pipeline.py).
EMB_MATCH_COSINE = 0.95

# Executor-side artifact cache: parse JSON once per python worker.
_ARTIFACT_CACHE: dict = {}


def _artifact_key(model_json: str, tfidf_json: str) -> tuple:
    """Cache key: a digest of the FULL content (ids differ across task
    deserializations), so a refitted vocabulary of the same length is not
    served stale from a reused python worker.  Computed once on the
    driver and shipped with the JSON, so tasks do not re-hash it."""
    return (
        hashlib.blake2b(model_json.encode(), digest_size=16).digest(),
        hashlib.blake2b(tfidf_json.encode(), digest_size=16).digest(),
    )


def _artifacts(key: tuple, model_json: str, tfidf_json: str):
    hit = _ARTIFACT_CACHE.get(key)
    if hit is None:
        from name_matching_spark.functions.tfidf import TfidfModel
        from name_matching_spark.model.gbm import GBMClassifier

        hit = (GBMClassifier.from_json(model_json), TfidfModel.from_json(tfidf_json))
        _ARTIFACT_CACHE[key] = hit
    return hit


# One entry: ``score_pairs`` runs once per stream micro-batch, and building
# a scorer (hash the 1.1 MB of artifact JSON, broadcast it, wrap a UDF)
# costs about 20-30 ms and 7 py4j round trips, and its first call about 50
# more (the JVM side of the UDF).  That call is made once per projection,
# in ``_score_projection``.  The key holds the SparkContext and both
# artifacts, so a new context never gets a dead broadcast and a refit
# vocabulary gets a new scorer.
@functools.lru_cache(maxsize=1)
def _scorer_udf(sc, model_json: str, tfidf_json: str, out_cols: tuple):
    """The scorer UDF over (name_x, name_y) columns; the artifact JSON
    travels as one broadcast.  It emits the features ``out_cols`` (a
    subset of FEATURE_COLS), then ``probability`` and ``margin``.  The
    GBM still computes the whole vector; ``out_cols`` only trims what
    crosses the Python-to-JVM Arrow boundary."""
    out_idx = [FEATURE_COLS.index(c) for c in out_cols]
    schema = ", ".join(
        f"{c} double" for c in [*out_cols, "probability", "margin"]
    )
    key = _artifact_key(model_json, tfidf_json)
    bc = sc.broadcast((key, model_json, tfidf_json))

    def _score(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        model, tfidf = _artifacts(*bc.value)
        for xs, ys in it:
            lx = xs.fillna("").tolist()
            ly = ys.fillna("").tolist()
            X = build_features(lx, ly, tfidf)
            margin = model.predict_margin(X)
            out = pd.DataFrame(X[:, out_idx], columns=out_cols)
            out["probability"] = 1.0 / (1.0 + np.exp(-margin))
            out["margin"] = margin
            yield out

    # asNondeterministic: the scorer IS deterministic, but declaring it so
    # lets Catalyst push a later filter (e.g. prediction == 1) through the
    # repartition exchange by DUPLICATING the ArrowEvalPython node — the
    # whole GBM scorer then runs twice, once at the low pre-shuffle
    # parallelism.  Nondeterministic blocks that rewrite: one evaluation,
    # after the exchange.  (Observed: 2x ArrowEvalPython in the
    # score->filter plan, the pre-shuffle copy on 5 tasks.)
    return F.pandas_udf(_score, schema).asNondeterministic()


def _vec_cosine(a, b):
    """Native (JVM, zip_with/aggregate) cosine of two array columns; NULL
    if either side is NULL or zero-norm."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
        )

    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot / denom)


def score_pairs(
    pairs: DataFrame,
    model_json: str,
    tfidf_json: str,
    name_x: str = "name_x",
    name_y: str = "name_y",
    keep_features: bool = True,
) -> DataFrame:
    """Add feature/probability/prediction columns to a pair DataFrame.

    Empty/null names score as non-matches rather than aborting the batch
    (the reference's batch path drops such rows to error records,
    predict_model.py:243-289 — here they simply cannot reach threshold).

    Optional PRE-COMPUTED embedding channel (the reference's F7 slot
    instantiates a sentence-transformer, build_features.py:89-116 in
    vietexob/name-matching; this repo's sanctioned stand-in is char-3-gram
    cosine): when the pairs frame carries ``emb_x`` / ``emb_y`` array
    columns (user-supplied vectors joined per name), their cosine is
    computed NATIVELY (zip_with/aggregate — never enters the Python UDF)
    and a pair whose embedding cosine reaches :data:`EMB_MATCH_COSINE` is
    a MATCH even when the string model cannot see it ("IBM" ~
    "INTERNATIONAL BUSINESS MACHINES" has zero lexical overlap).  An explicit
    high-precision OR-rule, not a hidden feature substitution: the GBM's
    trained feature space is untouched, rows with NULL vectors fall back
    to the string decision alone, and without the columns the output is
    byte-identical to before."""
    scorer = _scorer_udf(
        pairs.sparkSession.sparkContext,
        model_json,
        tfidf_json,
        tuple(FEATURE_COLS) if keep_features else EVIDENCE_COLS,
    )
    call, projection = _score_projection(
        scorer, name_x, name_y, keep_features, tuple(pairs.columns)
    )
    return pairs.withColumn("_s", call).select(*projection)


# Eight entries: the batch pipeline and the stream path each score with
# their own column names, input columns and feature choice.
@functools.lru_cache(maxsize=8)
def _score_projection(
    scorer, name_x: str, name_y: str, keep_features: bool, columns: tuple
) -> tuple:
    """The scorer call and the output projection of :func:`score_pairs`
    over a frame with ``columns`` (which also say whether the embedding
    columns are there), built once per key.  Each ``F.col``/``F.when``/
    ``F.lit`` costs py4j round trips: the tree costs about 380, where a
    warm ``score_pairs`` call makes about 20.  The Columns are unresolved,
    so every plan that reuses them resolves them against its own input."""
    call = scorer(F.col(name_x), F.col(name_y))
    # Decision from the RAW probability; rounding is display-only — exactly
    # the reference's split (predict_model.py:176-187 thresholds the raw
    # probability and rounds only the persisted column).  Thresholding the
    # rounded value would flip e.g. 0.84996 -> 0.8500 >= 0.85 at the boundary.
    prob_raw = F.col("_s.probability")
    prob = F.round(prob_raw, 4)
    valid = (F.length(F.coalesce(F.col(name_x), F.lit(""))) > 0) & (
        F.length(F.coalesce(F.col(name_y), F.lit(""))) > 0
    )
    cols = [F.col(c) for c in columns]
    if keep_features:
        cols += [F.col(f"_s.{f}").alias(f) for f in FEATURE_COLS]
    else:
        # The three EVIDENCE columns always travel with the decision: the
        # clustering refinement (clustering.py) needs to know whether an
        # edge is supported by a shared informative token (cosine) or a
        # near-exact string relation (align_edit) — generic similarity
        # mass alone must not glue corpus-scale clusters — and whether it
        # is a SUBSUMPTION edge (token_weakest_link 1.0 purely via
        # initial/prefix credit), which attaches rather than glues.
        cols += [F.col(f"_s.{f}").alias(f) for f in EVIDENCE_COLS]
    has_emb = {"emb_x", "emb_y"} <= set(columns)
    decision = valid & (prob_raw >= F.lit(DEFAULT_THRESHOLD))
    # The raw margin always rides along: refinement ladder rungs above
    # prob 0.99 operate where the sigmoid has flattened thousands of
    # edges onto 0.9999+ — the margin still ranks them.
    margin = F.col("_s.margin")
    if has_emb:
        emb_cos = _vec_cosine(F.col("emb_x"), F.col("emb_y"))
        cols += [emb_cos.alias("emb_cosine")]
        emb_hit = valid & (F.coalesce(emb_cos, F.lit(-1.0)) >= F.lit(EMB_MATCH_COSINE))
        decision = decision | emb_hit
        # An embedding-verified match must CARRY its confidence into the
        # persisted probability/margin, not just the prediction bit: the
        # clustering refinement ladder ranks edges by probability (and by
        # raw margin above 0.999), so a zero-lexical-overlap match left at
        # its string probability (~0.0) dies at the FIRST rung whenever
        # its component needs refinement — measured as 0.0 injected-alias
        # recall at the 10k fixture before this lift.  The lifted value is
        # the embedding cosine itself (capped into the emb-rule region),
        # and the margin is its logit, so emb-verified edges rank among
        # themselves by vector agreement.
        lifted = F.greatest(prob_raw, emb_cos)
        prob = F.when(emb_hit, F.round(lifted, 4)).otherwise(prob)
        safe = F.least(lifted, F.lit(1.0 - 1e-9))
        margin = F.when(
            emb_hit,
            F.greatest(margin, F.log(safe / (F.lit(1.0) - safe))),
        ).otherwise(margin)
    cols += [
        margin.alias("margin"),
        prob.alias("probability"),
        F.when(decision, F.lit(1)).otherwise(F.lit(0)).alias("prediction"),
        F.when(decision, F.lit("MATCH")).otherwise(F.lit("NO_MATCH")).alias("match_label"),
    ]
    return call, tuple(cols)
