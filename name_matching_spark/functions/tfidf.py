"""Word 1-2-gram TF-IDF cosine — pure-numpy re-implementation.

The reference computes a COSINE_SIM feature from a word-(1,2)-gram TF-IDF
vectorizer fitted on the unique positive left names with ``max_df=0.9`` and
``max_features=10000`` (build_features.py:243-270, train_model.py:493-495 in
vietexob/name-matching).  This module implements the same published TF-IDF
semantics from scratch:

* tokens: lowercase, ``(?u)\\b\\w\\w+\\b`` (>=2 word chars);
* terms: unigrams + space-joined bigrams;
* document frequency pruning at ``max_df`` (fraction of corpus docs);
* vocabulary truncated to the ``max_features`` most frequent terms
  (by corpus-wide term count, ties broken lexicographically);
* ``idf = ln((1 + N) / (1 + df)) + 1`` (smoothed), tf = raw in-doc count;
* vectors L2-normalized; pair score = cosine (dot of normalized vectors).

The fitted model is a plain dict — trivially broadcastable to executors and
JSON-serializable for artifact checkpointing.
"""

from __future__ import annotations

import json
import re
from collections import Counter

import numpy as np

_TOKEN_RE = re.compile(r"(?u)\b\w\w+\b")

# Hard ceiling for the corpus-adaptive (max_features=None) fit: keeps the
# collected vocabulary/artifact bounded; corpora past it should use
# HashedTfidfModel.  Referenced by the pipeline's sidecar fingerprint so a
# change here invalidates resumed vocabularies.
ADAPTIVE_VOCAB_CEILING = 1_000_000


def _terms(text: str) -> list[str]:
    toks = _TOKEN_RE.findall(text.lower())
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _lowered_docs(names_df, name_col: str, extra_corpus) -> list[str]:
    """The documents a fit over a Spark name table counts: the sorted
    distinct union of the names, lowercased in Spark and collected in one
    Arrow transfer, and the lowercased ``extra_corpus``."""
    from pyspark.sql import functions as F

    names = (
        names_df.select(F.lower(F.col(name_col)).alias("doc"))
        .toArrow()
        .column("doc")
        .to_pylist()
    )
    docs = {d for d in names if d is not None}
    docs.update(c.lower() for c in extra_corpus or ())
    return sorted(docs)


class TfidfModel:
    """Fitted TF-IDF vocabulary + idf weights with pairwise-cosine transform."""

    def __init__(self, vocab: dict[str, int], idf: np.ndarray):
        self.vocab = vocab
        self.idf = np.asarray(idf, dtype=np.float64)

    # -- fitting ------------------------------------------------------------

    @classmethod
    def fit(
        cls,
        corpus,
        max_df: float = 0.9,
        max_features: int | None = 10000,
    ) -> "TfidfModel":
        """``max_features=None`` keeps every term that passes ``max_df``."""
        n_docs = 0
        df: Counter = Counter()
        tf_total: Counter = Counter()
        for doc in corpus:
            n_docs += 1
            terms = _terms(doc)
            tf_total.update(terms)
            df.update(set(terms))
        if n_docs == 0:
            raise ValueError("empty corpus")
        max_df_count = max_df * n_docs
        kept = [t for t in df if df[t] <= max_df_count]
        if max_features is not None:
            kept.sort(key=lambda t: (-tf_total[t], t))
            kept = kept[:max_features]
        kept.sort()
        vocab = {t: i for i, t in enumerate(kept)}
        idf = np.array(
            [np.log((1.0 + n_docs) / (1.0 + df[t])) + 1.0 for t in kept],
            dtype=np.float64,
        )
        return cls(vocab, idf)

    # -- transform ----------------------------------------------------------

    def _doc_weights(self, text: str) -> dict[int, float]:
        c = Counter(_terms(text))
        w = {
            self.vocab[t]: n * self.idf[self.vocab[t]]
            for t, n in c.items()
            if t in self.vocab
        }
        norm = np.sqrt(sum(v * v for v in w.values()))
        if norm > 0:
            w = {k: v / norm for k, v in w.items()}
        return w

    def cosine_pairs(self, xs, ys) -> np.ndarray:
        """Pairwise cosine for aligned batches; sparse dict dot per pair
        (names carry ~5 terms, so the dict intersection dominates)."""
        out = np.zeros(len(xs), dtype=np.float64)
        cache: dict[str, dict[int, float]] = {}

        def weights(s: str) -> dict[int, float]:
            w = cache.get(s)
            if w is None:
                w = self._doc_weights(s)
                cache[s] = w
            return w

        for k, (x, y) in enumerate(zip(xs, ys)):
            wx, wy = weights(x), weights(y)
            if len(wx) > len(wy):
                wx, wy = wy, wx
            out[k] = sum(v * wy.get(i, 0.0) for i, v in wx.items())
        return out

    # -- per-token idf (the shared-rare-token evidence features) -----------

    def unigram_idf(self, token: str) -> float:
        """idf of one (lowercased) token.  A token absent from the
        vocabulary gets the MAX observed idf: at fit time absence means
        either rarity beyond the cap or max_df pruning, and treating it
        as maximally discriminating mirrors HashedTfidfModel's
        unseen-bucket rule (rare unseen terms are the informative ones —
        the anti-OOV-collapse lesson)."""
        i = self.vocab.get(token)
        if i is None:
            return self.max_idf()
        return float(self.idf[i])

    def max_idf(self) -> float:
        m = getattr(self, "_max_idf", None)
        if m is None:
            m = float(self.idf.max(initial=1.0))
            self._max_idf = m
        return m

    # -- fitting a Spark name table -------------------------------------------

    @classmethod
    def fit_spark(
        cls,
        names_df,
        name_col: str = "name",
        extra_corpus: list[str] | None = None,
        max_df: float = 0.9,
        max_features: int | None = 10000,
        ceiling: int | None = None,
        overflow_n_buckets: int = 1 << 22,
    ) -> "TfidfModel | HashedTfidfModel":
        """Fit on a Spark DataFrame of names plus an optional driver-side
        extra corpus: one Arrow collect of the names, lowercased in Spark,
        then :meth:`fit` over the sorted distinct lowered union of names
        and corpus.  Driver memory is O(distinct names): every name comes
        to the driver, where the earlier distributed aggregate collected
        only its vocabulary rows (up to the 1M-term ceiling).  At the
        pipeline's sizes the driver count is far cheaper than the jobs of
        a Spark aggregate.

        ``max_features=None`` means corpus-adaptive: keep every term up to
        a 1M hard ceiling.  The 10k default mirrors the reference
        (build_features.py max_features=10000) and is right for its small
        corpus, but at 10^5+ resolution names a frequency-truncated
        vocabulary drops exactly the RARE core tokens that distinguish
        entities, leaving only shared high-frequency tokens (designators,
        common given names) in vocabulary — cosine then collapses onto
        those and scores different-core orgs as near-identical (the
        documented OOV failure mode, measured as a primary driver of
        cluster over-merge at the 100k-entity scale).  The ceiling bounds
        the broadcast artifact (~tens of MB); a corpus whose term
        diversity EXCEEDS the ceiling auto-switches to the hashing-trick
        fit (``overflow_n_buckets`` buckets, returns a
        :class:`HashedTfidfModel`) — truncating the adaptive vocabulary
        would silently reintroduce the rare-core OOV collapse the adaptive
        mode exists to prevent, and the hashed fit is A/B-proven within
        0.001 F1 of adaptive (BENCH/QUALITY.md).  ``ceiling`` overrides
        :data:`ADAPTIVE_VOCAB_CEILING` (tests cross the boundary cheaply).
        """
        docs = _lowered_docs(names_df, name_col, extra_corpus)
        model = cls.fit(docs, max_df=max_df, max_features=max_features)
        limit = ceiling if ceiling is not None else ADAPTIVE_VOCAB_CEILING
        if max_features is not None or len(model.vocab) <= limit:
            return model
        # The adaptive mode exists to PREVENT rare-core truncation;
        # crossing the ceiling therefore SWITCHES fits rather than
        # truncating: the hashed model keeps a weight for every term at
        # O(n_buckets) memory regardless of term diversity.
        import warnings

        warnings.warn(
            "TfidfModel.fit_spark: corpus-adaptive vocabulary exceeded "
            f"the {limit}-term ceiling; auto-switching to hashed TF-IDF "
            f"({overflow_n_buckets} buckets) to preserve rare "
            "discriminating terms",
            RuntimeWarning,
            stacklevel=2,
        )
        return HashedTfidfModel.fit(
            docs, max_df=max_df, n_buckets=overflow_n_buckets
        )

    # -- (de)serialization ----------------------------------------------------

    def to_json(self) -> str:
        return json.dumps({"vocab": self.vocab, "idf": self.idf.tolist()})

    @classmethod
    def from_json(cls, payload: str):
        obj = json.loads(payload)
        if obj.get("kind") == "hashed":  # polymorphic artifact dispatch
            return HashedTfidfModel._from_obj(obj)
        return cls(obj["vocab"], np.asarray(obj["idf"], dtype=np.float64))


def _md5_bucket(term: str, n_buckets: int) -> int:
    """Stable term -> bucket: 60-bit md5 prefix mod n_buckets.  md5, not
    Python's salted ``hash``, so the fit and every scorer process compute
    the identical bucket."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n_buckets


class HashedTfidfModel:
    """Hashing-trick TF-IDF — the successor fit for corpora past the
    adaptive vocabulary's 1M-term ceiling.

    No vocabulary is kept: a term maps to one of ``n_buckets``
    md5-derived buckets and only the per-bucket idf array ships in the
    broadcast (memory O(n_buckets) REGARDLESS of corpus term
    diversity).  With
    ``n_buckets`` far above the distinct-term count, buckets are
    singletons and the model is numerically identical to an uncapped
    :class:`TfidfModel` (tested); collisions degrade gracefully (two
    terms share a weight) rather than dropping terms entirely.

    One deliberate semantic difference: a transform-time term whose
    bucket was NEVER seen at fit time gets the maximum idf (df=0) instead
    of TfidfModel's drop-to-zero — rare unseen terms are the
    discriminating ones, which is exactly the OOV-collapse lesson
    BENCH/QUALITY.md records.
    """

    def __init__(self, idf: np.ndarray, n_buckets: int, default_idf: float | None = None):
        self.idf = np.asarray(idf, dtype=np.float64)
        self.n_buckets = int(n_buckets)
        # the unseen-bucket (df=0) weight; needed to serialize sparsely
        self.default_idf = (
            float(default_idf)
            if default_idf is not None
            else float(self.idf.max(initial=0.0))
        )

    @classmethod
    def fit(
        cls, corpus, max_df: float = 0.9, n_buckets: int = 1 << 20
    ) -> "HashedTfidfModel":
        """A bucket's df is the number of documents holding at least one
        term that hashes to it; a bucket past ``max_df`` weighs 0, like a
        pruned term."""
        n_docs = 0
        df: Counter = Counter()
        for doc in corpus:
            n_docs += 1
            df.update({_md5_bucket(t, n_buckets) for t in _terms(doc)})
        if n_docs == 0:
            raise ValueError("empty corpus")
        unseen = np.log(1.0 + n_docs) + 1.0  # df=0
        idf = np.full(n_buckets, unseen, dtype=np.float64)
        max_df_count = max_df * n_docs
        for b, n in df.items():
            if n <= max_df_count:
                idf[b] = np.log((1.0 + n_docs) / (1.0 + n)) + 1.0
            else:
                idf[b] = 0.0  # stop-bucket, same rule as max_df terms
        return cls(idf, n_buckets, default_idf=unseen)

    @classmethod
    def fit_spark(
        cls,
        names_df,
        name_col: str = "name",
        extra_corpus: list[str] | None = None,
        max_df: float = 0.9,
        n_buckets: int = 1 << 20,
    ) -> "HashedTfidfModel":
        """:meth:`fit` over the same documents as
        :meth:`TfidfModel.fit_spark` (one Arrow collect of the names)."""
        return cls.fit(
            _lowered_docs(names_df, name_col, extra_corpus),
            max_df=max_df,
            n_buckets=n_buckets,
        )

    def _doc_weights(self, text: str) -> dict[int, float]:
        c = Counter(_terms(text))
        w: dict[int, float] = {}
        for t, n in c.items():
            b = _md5_bucket(t, self.n_buckets)
            w[b] = w.get(b, 0.0) + n * self.idf[b]
        norm = np.sqrt(sum(v * v for v in w.values()))
        if norm > 0:
            w = {k: v / norm for k, v in w.items()}
        return w

    cosine_pairs = TfidfModel.cosine_pairs  # same sparse-dict pairwise dot

    def unigram_idf(self, token: str) -> float:
        return float(self.idf[_md5_bucket(token, self.n_buckets)])

    def max_idf(self) -> float:
        m = getattr(self, "_max_idf", None)
        if m is None:
            m = float(max(self.idf.max(initial=1.0), self.default_idf))
            self._max_idf = m
        return m

    def to_json(self) -> str:
        # sparse: store only buckets that differ from the unseen default
        default = self.default_idf
        nz = {
            str(i): float(v)
            for i, v in enumerate(self.idf)
            if v != default
        }
        return json.dumps(
            {
                "kind": "hashed",
                "n_buckets": self.n_buckets,
                "default_idf": default,
                "idf_nz": nz,
            }
        )

    @classmethod
    def _from_obj(cls, obj: dict) -> "HashedTfidfModel":
        idf = np.full(obj["n_buckets"], obj["default_idf"], dtype=np.float64)
        for i, v in obj["idf_nz"].items():
            idf[int(i)] = v
        return cls(idf, obj["n_buckets"], default_idf=obj["default_idf"])

    @classmethod
    def from_json(cls, payload: str) -> "HashedTfidfModel":
        return cls._from_obj(json.loads(payload))
