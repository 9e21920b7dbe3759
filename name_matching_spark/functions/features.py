"""The 18-feature pairwise vector — single source of truth for train & serve.

Column order is the load-bearing contract (mirrors the reference's fixed
feature order, predict_model.py:58-67 in vietexob/name-matching).  The same
function featurizes the driver-side training frame and every Arrow batch
inside the Spark scorer UDF, so train/serve skew is impossible.
"""

from __future__ import annotations

import numpy as np

from name_matching_spark.functions import similarity as sim
from name_matching_spark.functions.tfidf import TfidfModel

FEATURE_COLS = [
    "jaccard_sim",
    "cosine_sim",
    "ratio",
    "sorted_token_ratio",
    "token_set_ratio",
    "partial_ratio",
    "emb_distance",
    "len_diff",
    # Features 9-11 extend the reference's 8: Jaro-Winkler is explicitly in
    # the target feature set; Monge-Elkan(JW) and the designator-stripped
    # core ratio supply the out-of-vocabulary generalization signal the
    # reference obtained from its sentence-embedding feature.
    "jaro_winkler",
    "monge_elkan_jw",
    "core_ratio",
    "token_weakest_link",
    # Absolute (not length-normalized) edit distance on designator-stripped
    # sorted-token-collapsed names: separates typo/merge positives (0-2)
    # from grafted-syllable near-miss cores (3+) that every ratio feature
    # scores identically on long names.
    "align_edit",
    # Max per-aligned-token edit distance beyond the single-substitution
    # typo allowance: a substituted syllable (2 edits in ONE token) is a
    # different name; a two-token typo (1 edit in each of two tokens) is
    # the positive space — identical under every whole-name feature.
    "token_sub_excess",
    # IDF-weighted shared-token evidence, moved INTO the model from the
    # clustering evidence rung (which tested cosine>=0.05 post-hoc):
    # shared_max_idf = rarity of the rarest SHARED token (1.0 = df-1 rare,
    # ~0 = generic designator), length-invariant where cosine dilutes on
    # long names; idf_jaccard = idf-weighted token-overlap ratio.  Both
    # computed from the same TF-IDF artifact as cosine_sim, so the serve
    # fit stays corpus-adaptive.
    "shared_max_idf",
    "idf_jaccard",
    # Count of single-letter (initial) tokens left facing an unexplained
    # token on the other side whose first letter they do not match:
    # "N QUENNEVILLE" vs "SENN QUENNEVILLE" conflicts (N prefixes neither
    # SENN nor anything else unconsumed), while "N QUENNEVILLE" vs
    # "NADIA QUENNEVILLE" and the reference positive "D BARRIGA" vs
    # "BARRIGAS" stay at 0 (NADIA is prefix-consumed by N; BARRIGAS is
    # near-match-consumed by BARRIGA).  The dominant glue family measured
    # at the 60/10k fixtures once shared_max_idf lifted initial forms.
    "initial_conflict",
    # 1.0 when a LEADING single-letter initial is prefix-satisfied ONLY by
    # org kind/designator words on the other side ("H PINNACLE" ~
    # "HOTEL PINNACLE" / "PINNACLE HOTEL LTD"): org aliases abbreviate
    # their kind word but never take person-style initial forms, so the
    # pair is cross-type.  A person initial expanding to ANY non-kind
    # token ("J SMITH" ~ "JOHN SMITH") stays 0, as does an initial that
    # matches the other side's own leading initial.  Without this column
    # the two families are featurally identical, and the corpus-scale
    # training copies tip the shared region below the 0.85 threshold
    # (BENCH/QUALITY.md, "Final round-5 scorer").
    "kind_initial",
]


_FOLD_CACHE: dict = {}


def _fold(t: str) -> str:
    """Diacritic-folded form for prefix tests only (normalization is
    diacritic-preserving, so "É POWELL" must still satisfy against
    "ETIENNE POWELL" and vice versa)."""
    v = _FOLD_CACHE.get(t)
    if v is None:
        import unicodedata

        v = "".join(
            c
            for c in unicodedata.normalize("NFD", t)
            if not unicodedata.combining(c)
        )
        _FOLD_CACHE[t] = v
    return v


def initial_conflict_batch(xs, ys) -> np.ndarray:
    """Per-pair count of CONFLICTED initials for aligned batches of
    normalized names.

    Full tokens consume each other (each at most once): exact multiset
    intersection first, then near matches (prefix or edit<=2 — the typo /
    diminutive / apostrophe-split positive space) paired best-first so a
    typo-split like "D R NEER" ~ "DER MEER" aligns MEER~NEER before DER
    steals it.  Only a LEADING 1-char token counts as a person initial —
    mid-name single letters are legal-form runs ("COSTE S A R L") and
    Romance conjunctions ("SOARES E FILHOS", "MORENO Y COLL"), measured
    as ~140 reference POSITIVES if counted.  A leading initial is
    SATISFIED if it diacritic-fold-prefixes ANY full token on the other
    side — consumed or not, so "FRANCISCO F SCHWITAL" ~ "JOSE FRANCISCO
    SCHWITAL" stays clean — or equals the other side's leading initial.
    A remaining initial CONFLICTS iff the other side still has an
    unexplained full token or a differing leading initial:
    "N QUENNEVILLE" ~ "SENN QUENNEVILLE" conflicts (N prefixes nothing,
    SENN is unexplained) while "N QUENNEVILLE" ~ "NADIA QUENNEVILLE" and
    the reference positive "D BARRIGA" ~ "BARRIGAS" stay 0.
    Legal-entity designators (INC, HOLDINGS, ...) never count as
    unexplained — org aliases add/drop them freely, and a typo-split
    initial ("BARG I PARTNERS" ~ "BARGRI PARTNERS HOLDINGS") must not
    conflict with a suffix variation.
    """
    from name_matching_spark.functions.similarity import (
        LEGAL_SUFFIXES,
        levenshtein,
    )

    n = len(xs)
    out = np.zeros(n, dtype=np.float64)
    for k, (x, y) in enumerate(zip(xs, ys)):
        tx = x.split()
        ty = y.split()
        if len(tx) < 2 and len(ty) < 2:
            continue
        ix = [tx[0]] if tx and len(tx[0]) == 1 else []
        iy = [ty[0]] if ty and len(ty[0]) == 1 else []
        if not ix and not iy:
            continue
        fx = [t for t in tx if len(t) > 1]
        fy = [t for t in ty if len(t) > 1]
        # 1. exact full-token matches
        rem_y = list(fy)
        rem_x = []
        for t in fx:
            if t in rem_y:
                rem_y.remove(t)
            else:
                rem_x.append(t)
        # 2. best-first near-match consumption among remaining full tokens
        if rem_x and rem_y:
            cand = []
            for a in rem_x:
                for b in rem_y:
                    if a.startswith(b) or b.startswith(a):
                        d = 0.5
                    elif abs(len(a) - len(b)) <= 2:
                        d = levenshtein(a, b)
                        if d > 2:
                            continue
                    else:
                        continue
                    cand.append((d, a, b))
            used_x, used_y = set(), set()
            for d, a, b in sorted(cand, key=lambda t: t[0]):
                if a in used_x or b in used_y:
                    continue
                used_x.add(a)
                used_y.add(b)
            rem_x = [t for t in rem_x if t not in used_x]
            rem_y = [t for t in rem_y if t not in used_y]

        # 3. initial satisfaction: fold-prefix of ANY full token on the
        #    other side (consumed or not), or an equal initial there
        def _sat(i, fulls, inits):
            fi = _fold(i)
            return i in inits or any(_fold(t).startswith(fi) for t in fulls)

        rem_ix = [i for i in ix if not _sat(i, fy, iy)]
        rem_iy = [i for i in iy if not _sat(i, fx, ix)]
        if not rem_ix and not rem_iy:
            continue
        # conflicts: a leftover initial facing ANY leftover on the other
        # side (designators are never "unexplained" — see docstring)
        rem_x = [t for t in rem_x if t not in LEGAL_SUFFIXES]
        rem_y = [t for t in rem_y if t not in LEGAL_SUFFIXES]
        c = 0
        if rem_y or rem_iy:
            c += len(rem_ix)
        if rem_x or rem_ix:
            c += len(rem_iy)
        out[k] = float(c)
    return out


def kind_initial_batch(xs, ys) -> np.ndarray:
    """1.0 iff a leading single-letter initial on either side is
    prefix-satisfied exclusively by KIND_WORDS tokens on the other side.

    "Satisfied" mirrors :func:`initial_conflict_batch` step 3: the initial
    diacritic-fold-prefixes a full (>1 char) token.  The flag requires
    (a) at least one satisfying token, (b) every satisfying token is a
    kind/designator word, and (c) the other side does not carry an equal
    leading initial (equal initials explain each other:
    "H PINNACLE" ~ "H PINNACLE LTD" stays 0).  Reference positives with a
    trailing fragment letter ("HOTEL CONT L" ~ "HOTEL CONTINENTAL") are
    untouched — only a LEADING single letter counts, same rule as
    initial_conflict_batch."""
    from name_matching_spark.functions.similarity import KIND_WORDS

    n = len(xs)
    out = np.zeros(n, dtype=np.float64)
    for k, (x, y) in enumerate(zip(xs, ys)):
        tx = x.split()
        ty = y.split()

        def _kind_only(tokens_a, tokens_b):
            # leading initial of side a vs full tokens of side b
            if not tokens_a or len(tokens_a[0]) != 1:
                return False
            i = tokens_a[0]
            if tokens_b and len(tokens_b[0]) == 1 and tokens_b[0] == i:
                return False
            fi = _fold(i)
            sat = [t for t in tokens_b if len(t) > 1 and _fold(t).startswith(fi)]
            return bool(sat) and all(t in KIND_WORDS for t in sat)

        if _kind_only(tx, ty) or _kind_only(ty, tx):
            out[k] = 1.0
    return out


def idf_evidence_batch(xs, ys, tfidf) -> tuple[np.ndarray, np.ndarray]:
    """(shared_max_idf, idf_jaccard) for aligned batches of normalized
    names.  Tokens are the >=2-char words (1-char initials deliberately
    carry NO evidence — they are exactly the ambiguous glue forms),
    lowercased to match the TF-IDF fit.  idf lookups go through the
    model's ``unigram_idf`` (vocab or hashed-bucket), normalized by its
    ``max_idf`` so the scale is corpus-size-stable."""
    n = len(xs)
    out_max = np.zeros(n, dtype=np.float64)
    out_jac = np.zeros(n, dtype=np.float64)
    max_idf = tfidf.max_idf() or 1.0
    idf_cache: dict[str, float] = {}

    def idf(t: str) -> float:
        v = idf_cache.get(t)
        if v is None:
            v = tfidf.unigram_idf(t)
            idf_cache[t] = v
        return v

    for k, (x, y) in enumerate(zip(xs, ys)):
        tx = {t for t in x.lower().split() if len(t) >= 2}
        ty = {t for t in y.lower().split() if len(t) >= 2}
        if not tx or not ty:
            continue
        shared = tx & ty
        if shared:
            out_max[k] = max(idf(t) for t in shared) / max_idf
            # Sum in sorted order: a set's order follows the process's
            # string-hash seed, and float addition is not associative.
            union_sum = sum(idf(t) for t in sorted(tx | ty))
            if union_sum > 0:
                out_jac[k] = sum(idf(t) for t in sorted(shared)) / union_sum
    return out_max, out_jac


def build_features(xs, ys, tfidf: TfidfModel) -> np.ndarray:
    """(n, len(FEATURE_COLS)) float64 feature matrix for aligned batches of
    *normalized* names.  Inputs must be non-null; empty strings are legal:
    an empty name against a non-empty one scores 0 in every column except
    the two distances, ``len_diff`` and ``align_edit``.
    """
    xs = list(xs)
    ys = list(ys)
    # One edit-distance memo per batch: the four ratio variants and the
    # partial-ratio windows repeat many identical string pairs.
    memo: dict = {}
    # Weakest-link + sub-excess share one token-alignment/JW pass.
    twl, excess = sim._token_align_stats_batch(xs, ys)
    shared_max_idf, idf_jaccard = idf_evidence_batch(xs, ys, tfidf)
    cols = [
        sim.jaccard_batch(xs, ys),
        tfidf.cosine_pairs(xs, ys),
        sim.ratio_batch(xs, ys, memo=memo),
        sim.sorted_token_ratio_batch(xs, ys, memo=memo),
        sim.token_set_ratio_batch(xs, ys, memo=memo),
        sim.partial_ratio_reference_batch(xs, ys).astype(np.float64),
        sim.ngram_cosine_batch(xs, ys),
        sim.len_diff_batch(xs, ys).astype(np.float64),
        sim.jaro_winkler_batch(xs, ys),
        sim.monge_elkan_jw_batch(xs, ys),
        sim.core_ratio_batch(xs, ys, memo=memo),
        twl,
        sim.align_edit_batch(xs, ys, memo=memo),
        excess,
        shared_max_idf,
        idf_jaccard,
        initial_conflict_batch(xs, ys),
        kind_initial_batch(xs, ys),
    ]
    return np.column_stack(cols)


def refit_idf_features(X: np.ndarray, xs, ys, tfidf: TfidfModel) -> np.ndarray:
    """Copy of a :func:`build_features` matrix with only the three
    TF-IDF-dependent columns (cosine_sim, shared_max_idf, idf_jaccard)
    recomputed under a different fitted model.  Everything else in the
    vector is a pure string function of (x, y), so a corpus-scale
    re-featurization only needs these three — the training-time
    domain-randomization path uses this to avoid re-running the
    edit-distance kernels."""
    xs = list(xs)
    ys = list(ys)
    out = X.copy()
    out[:, FEATURE_COLS.index("cosine_sim")] = tfidf.cosine_pairs(xs, ys)
    smi, ijac = idf_evidence_batch(xs, ys, tfidf)
    out[:, FEATURE_COLS.index("shared_max_idf")] = smi
    out[:, FEATURE_COLS.index("idf_jaccard")] = ijac
    return out
