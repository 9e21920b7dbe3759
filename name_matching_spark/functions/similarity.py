"""Vectorized (numpy) string-similarity kernels for the pairwise scorer.

These are the executable semantics of the reference's 8-feature vector
(``name_matching/features/build_features.py:145-241`` in
vietexob/name-matching), re-implemented from scratch for batch execution
inside Arrow-batched pandas UDFs.  No per-row Spark UDFs anywhere: each
function takes whole batches (lists / ndarrays of strings) and runs the
dynamic programs across the batch dimension in numpy.

Feature map (reference -> here):

* JACCARD_SIM          -> :func:`jaccard_batch`       (token IoU with *list*
  lengths in the denominator, matching build_features.py:44-63)
* RATIO                -> :func:`ratio_batch`          (1 - lev/max(len))
* SORTED_TOKEN_RATIO   -> ratio over token-sorted strings
* TOKEN_SET_RATIO      -> ratio over sorted distinct tokens
* PARTIAL_RATIO        -> :func:`partial_ratio_reference_batch`
  (bit-equal ``fuzzywuzzy.fuzz.partial_ratio``: gestalt-scored windows on
  the reference's 0-100 int scale)
* COSINE_SIM           -> tfidf.py (word 1-2-gram TF-IDF cosine)
* EMB_DISTANCE         -> :func:`ngram_cosine_batch`   (char-3-gram hashed
  cosine; the deterministic stand-in for the reference's sentence-embedding
  cosine, as sanctioned by the target feature list: "n-gram cosine")
* LEN_DIFF             -> trivial ``abs(len(x)-len(y))``
"""

from __future__ import annotations

from difflib import SequenceMatcher

import numpy as np

# ---------------------------------------------------------------------------
# Encoding helpers
# ---------------------------------------------------------------------------


def encode_batch(strs) -> tuple[np.ndarray, np.ndarray]:
    """Encode a batch of strings into a right-padded (n, Lmax) int32 matrix
    of code points plus a length vector.  Pad value is -1 (never a cp)."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int32, count=n)
    lmax = int(lens.max()) if n else 0
    mat = np.full((n, max(lmax, 1)), -1, dtype=np.int32)
    for k, s in enumerate(strs):
        if s:
            mat[k, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    return mat, lens


# ---------------------------------------------------------------------------
# Levenshtein (bit-parallel across the batch dimension)
# ---------------------------------------------------------------------------


_MYERS_MAX_M = 53  # bits must stay exact through a float64 bincount


def _lev_myers(xs, ys) -> np.ndarray:
    """Myers/Hyyrö bit-parallel edit distance, vectorized across the batch:
    O(len(text)) rounds of uint64 boolean algebra instead of the
    O(len(a) x len(b)) Wagner-Fischer grid.  Requires the per-row pattern
    (the shorter string) to fit in 53 bits — the caller routes longer rows
    to the scalar :func:`levenshtein`.  Published algorithm: G. Myers, "A
    fast bit-vector algorithm for approximate string matching based on
    dynamic programming", JACM 46(3), 1999 (Hyyrö 2001 formulation)."""
    n = len(xs)
    # pattern = shorter side (fewer bits), text = longer side
    pats: list = []
    txts: list = []
    for k in range(n):
        x, y = xs[k], ys[k]
        if len(x) <= len(y):
            pats.append(x)
            txts.append(y)
        else:
            pats.append(y)
            txts.append(x)
    A, la = encode_batch(pats)
    B, lb = encode_batch(txts)
    out = lb.astype(np.int32).copy()  # rows with empty pattern: dist = |text|
    live = la > 0
    if not live.any():
        return out
    # Local alphabet remap so Peq is a dense (n, V) table.
    alphabet = np.unique(np.concatenate([A.ravel(), B.ravel()]))
    V = len(alphabet)
    Am = np.searchsorted(alphabet, A)
    Bm = np.searchsorted(alphabet, B)
    rowsV = np.arange(n, dtype=np.int64) * V
    # Peq[row, c] = bitmask of pattern positions holding char c.  Each
    # (row, position) contributes a distinct power of two, so a float64
    # bincount sum equals the bitwise OR exactly (bits < 2^53).
    L1 = A.shape[1]
    valid = np.arange(L1)[None, :] < la[:, None]
    r_idx, c_idx = np.nonzero(valid)
    flat = rowsV[r_idx] + Am[r_idx, c_idx]
    weights = np.ldexp(1.0, c_idx)  # 2**position, exact
    peq = np.bincount(flat, weights=weights, minlength=n * V).astype(np.uint64)
    one = np.uint64(1)
    la64 = la.astype(np.uint64)
    VP = (one << la64) - one  # la <= 53 so the shift is well-defined
    VN = np.zeros(n, dtype=np.uint64)
    score = la.astype(np.int32)
    top = one << (np.maximum(la64, one) - one)  # clamp: shift by la-1 is UB at la=0
    top[~live] = 0
    L2 = B.shape[1]
    for j in range(L2):
        act = live & (lb > j)
        if not act.any():
            break
        eq = peq[rowsV + Bm[:, j]]
        d0 = (((eq & VP) + VP) ^ VP) | eq | VN
        hp = VN | ~(d0 | VP)
        hn = d0 & VP
        score += act & ((hp & top) != 0)
        score -= act & ((hn & top) != 0)
        hp = (hp << one) | one
        hn = hn << one
        nVP = hn | ~(d0 | hp)
        nVN = d0 & hp
        # freeze finished rows (their text is exhausted)
        VP = np.where(act, nVP, VP)
        VN = np.where(act, nVN, VN)
    out[live] = score[live]
    return out


def levenshtein_batch(xs, ys, chunk: int = 8192, memo: dict | None = None) -> np.ndarray:
    """Edit distances for aligned batches of strings.

    The bit-parallel kernel advances a sub-batch for max_len numpy
    steps, so pairs are (a) short-circuited when equal, (b) served from
    the optional cross-call ``memo`` (the scorer's four ratio variants
    largely repeat the same pairs), (c) sorted by length and chunked so
    one long outlier cannot lengthen the loop for the whole batch.
    """
    n = len(xs)
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    result = np.zeros(n, dtype=np.int32)
    todo = []
    for k in range(n):
        x, y = xs[k], ys[k]
        if x == y:
            continue
        if memo is not None:
            hit = memo.get((x, y))
            if hit is not None:
                result[k] = hit
                continue
        todo.append(k)
    if not todo:
        return result
    # Bit-parallel path for pairs whose shorter side fits in 53 bits.  The
    # rest go one by one through the scalar DP: none occur in the labeled
    # pairs (longest name 69 characters) or in datagen's aliases.
    fast = [k for k in todo if min(len(xs[k]), len(ys[k])) <= _MYERS_MAX_M]
    fast.sort(key=lambda k: max(len(xs[k]), len(ys[k])))
    for s in range(0, len(fast), chunk):
        part = fast[s : s + chunk]
        out = _lev_myers([xs[k] for k in part], [ys[k] for k in part])
        result[part] = out
        if memo is not None:
            for k, v in zip(part, out):
                memo[(xs[k], ys[k])] = int(v)
    for k in todo:
        if min(len(xs[k]), len(ys[k])) > _MYERS_MAX_M:
            result[k] = levenshtein(xs[k], ys[k])
            if memo is not None:
                memo[(xs[k], ys[k])] = int(result[k])
    return result


def levenshtein(x: str, y: str) -> int:
    """Single-pair scalar twin (tests, driver-side tooling, per-token
    calls inside feature kernels).  Plain two-row DP: for the short
    tokens this is called on, pure Python is ~30x faster than routing
    one pair through the numpy batch machinery (encode + alphabet remap
    + bit-parallel setup cost ~0.3ms per call; measured 0.88s of the
    initial_conflict kernel's 1.0s at 20k pairs)."""
    if x == y:
        return 0
    la, lb = len(x), len(y)
    if la == 0:
        return lb
    if lb == 0:
        return la
    if la < lb:  # iterate over the shorter as columns
        x, y, la, lb = y, x, lb, la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ci = x[i - 1]
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ci != y[j - 1]),
            )
        prev = cur
    return prev[lb]


# ---------------------------------------------------------------------------
# Ratio features (reference build_features.py:20-41)
# ---------------------------------------------------------------------------


def ratio_batch(xs, ys, memo: dict | None = None) -> np.ndarray:
    """1 - lev(strip(x), strip(y)) / max(len(x), len(y), 1).

    NB the reference strips before the edit distance but uses the
    *unstripped* lengths in the denominator — preserved here.
    """
    sx = [s.strip() for s in xs]
    sy = [s.strip() for s in ys]
    lev = levenshtein_batch(sx, sy, memo=memo).astype(np.float64)
    denom = np.maximum(
        np.fromiter((len(s) for s in xs), dtype=np.int64, count=len(xs)),
        np.fromiter((len(s) for s in ys), dtype=np.int64, count=len(ys)),
    )
    denom = np.maximum(denom, 1).astype(np.float64)
    return 1.0 - lev / denom


def sort_tokens(s: str) -> str:
    return " ".join(sorted(s.split()))


def sort_distinct_tokens(s: str) -> str:
    return " ".join(sorted(set(s.split())))


def sorted_token_ratio_batch(xs, ys, memo: dict | None = None) -> np.ndarray:
    return ratio_batch(
        [sort_tokens(s) for s in xs], [sort_tokens(s) for s in ys], memo=memo
    )


def token_set_ratio_batch(xs, ys, memo: dict | None = None) -> np.ndarray:
    return ratio_batch(
        [sort_distinct_tokens(s) for s in xs],
        [sort_distinct_tokens(s) for s in ys],
        memo=memo,
    )


# ---------------------------------------------------------------------------
# Jaccard (token IoU, list-length denominator — build_features.py:44-63)
# ---------------------------------------------------------------------------


def jaccard(x: str, y: str) -> float:
    if len(x) == 0 or len(y) == 0:
        return 0.0
    tx, ty = x.split(), y.split()
    common = set(tx) & set(ty)
    if not common:
        return 0.0
    return float(len(common)) / (len(tx) + len(ty) - len(common))


def jaccard_batch(xs, ys) -> np.ndarray:
    # Token-set work is inherently per-string; names are ~2-4 tokens so the
    # set ops dominate and a tight comprehension is the fastest pure-Python
    # form inside an Arrow batch.
    return np.fromiter(
        (jaccard(x.strip(), y.strip()) for x, y in zip(xs, ys)),
        dtype=np.float64,
        count=len(xs),
    )


# ---------------------------------------------------------------------------
# Partial ratio (0-100 int) — fuzzywuzzy parity
# ---------------------------------------------------------------------------


def partial_ratio_reference(x: str, y: str) -> int:
    """Bit-equal reimplementation of ``fuzzywuzzy.fuzz.partial_ratio``
    (the reference's F6, build_features.py:209-213 in
    vietexob/name-matching): SequenceMatcher matching blocks of
    (shorter, longer) propose window start positions; each window is
    scored with ``SequenceMatcher.ratio`` (gestalt 2M/T, NOT edit
    distance); best score scaled to 0-100 with banker's rounding, with
    the published > 0.995 early-exit.

    Fast path: when the shorter string occurs verbatim in the longer one,
    some block window equals it exactly and the published algorithm
    returns 100 — checked with ``in`` before any SequenceMatcher work.
    Only valid below difflib's autojunk threshold: for len(longer) >= 200
    SequenceMatcher (autojunk=True, fuzzywuzzy's default) treats popular
    characters of the longer side as junk and can score an exact substring
    well under 100, so long inputs fall through to the block-based path,
    which reproduces autojunk behavior exactly.

    An empty name against a non-empty one scores 0, fuzzywuzzy's
    empty-string guard (two empty names are equal and score 100).
    """
    if len(x) <= len(y):
        shorter, longer = x, y
    else:
        shorter, longer = y, x
    if not shorter:
        return 0 if longer else 100
    if len(longer) < 200 and shorter in longer:
        return 100
    m = SequenceMatcher(None, shorter, longer)
    blocks = m.get_matching_blocks()
    best = 0.0
    n = len(shorter)
    seen: set = set()
    for a_i, b_j, _size in blocks:
        long_start = b_j - a_i if (b_j - a_i) > 0 else 0
        if long_start in seen:  # identical window -> identical ratio
            continue
        seen.add(long_start)
        long_substr = longer[long_start : long_start + n]
        sm = SequenceMatcher(None, shorter, long_substr)
        # Exact branch-and-bound: quick_ratio is a published upper bound on
        # ratio, so a window that cannot strictly beat `best` (and best is
        # known <= 0.995 here, else we returned) cannot change the result.
        if sm.quick_ratio() <= best:
            continue
        r = sm.ratio()
        if r > 0.995:
            return 100
        if r > best:
            best = r
    return int(round(100 * best))


def _gestalt_b2j(b: str) -> dict:
    """difflib ``SequenceMatcher.__chain_b`` for ``isjunk=None`` (the
    fuzzywuzzy configuration): element -> sorted index list, with the
    autojunk rule applied verbatim — for ``len(b) >= 200`` elements
    occurring more than ``len(b)//100 + 1`` times are dropped from the
    map (CPython difflib.py, public stdlib source)."""
    b2j: dict = {}
    for i, ch in enumerate(b):
        idxs = b2j.get(ch)
        if idxs is None:
            b2j[ch] = [i]
        else:
            idxs.append(i)
    n = len(b)
    if n >= 200:
        ntest = n // 100 + 1
        for ch in [ch for ch, idxs in b2j.items() if len(idxs) > ntest]:
            del b2j[ch]
    return b2j


def _gestalt_blocks(a: str, b: str, b2j: dict) -> list:
    """difflib ``get_matching_blocks`` specialized for the empty-junk-set
    case (``isjunk=None`` keeps ``bjunk`` empty even under autojunk —
    popular elements leave ``b2j`` but never enter the junk set, so the
    junk-aware extension loops in ``find_longest_match`` degenerate to
    plain equality extension).  Returns ``(i, j, size)`` tuples WITHOUT
    the trailing ``(la, lb, 0)`` sentinel — callers here never need it.

    Bit-equal to the stdlib on this configuration; verified against
    difflib pair-for-pair in tests/test_similarity.py."""
    la, lb = len(a), len(b)
    queue = [(0, la, 0, lb)]
    matching_blocks = []
    while queue:
        alo, ahi, blo, bhi = queue.pop()
        # inlined find_longest_match (empty junk set)
        besti, bestj, bestsize = alo, blo, 0
        j2len: dict = {}
        for i in range(alo, ahi):
            newj2len: dict = {}
            js = b2j.get(a[i])
            if js:
                j2lenget = j2len.get
                for j in js:
                    if j < blo:
                        continue
                    if j >= bhi:
                        break
                    k = newj2len[j] = j2lenget(j - 1, 0) + 1
                    if k > bestsize:
                        besti, bestj, bestsize = i - k + 1, j - k + 1, k
            j2len = newj2len
        while besti > alo and bestj > blo and a[besti - 1] == b[bestj - 1]:
            besti -= 1
            bestj -= 1
            bestsize += 1
        while (
            besti + bestsize < ahi
            and bestj + bestsize < bhi
            and a[besti + bestsize] == b[bestj + bestsize]
        ):
            bestsize += 1
        if bestsize:
            matching_blocks.append((besti, bestj, bestsize))
            if alo < besti and blo < bestj:
                queue.append((alo, besti, blo, bestj))
            if besti + bestsize < ahi and bestj + bestsize < bhi:
                queue.append((besti + bestsize, ahi, bestj + bestsize, bhi))
    matching_blocks.sort()
    i1 = j1 = k1 = 0
    non_adjacent = []
    for i2, j2, k2 in matching_blocks:
        if i1 + k1 == i2 and j1 + k1 == j2:
            k1 += k2
        else:
            if k1:
                non_adjacent.append((i1, j1, k1))
            i1, j1, k1 = i2, j2, k2
    if k1:
        non_adjacent.append((i1, j1, k1))
    return non_adjacent


def _partial_ratio_fast(x: str, y: str) -> int:
    """Same value as :func:`partial_ratio_reference` (difflib-backed) on
    every input, ~2x faster: one shared ``b2j`` walk replaces repeated
    SequenceMatcher construction, windows are deduped by start, the
    equal-length window reuses the already-computed block list, and each
    remaining window is admitted only past the exact ``quick_ratio``
    upper bound (multiset char intersection).  Equality with the difflib
    path is asserted pair-for-pair in tests (incl. the >=200-char
    autojunk regime)."""
    if len(x) <= len(y):
        shorter, longer = x, y
    else:
        shorter, longer = y, x
    m, n = len(shorter), len(longer)
    if not m:
        return 0 if n else 100
    if n < 200 and shorter in longer:
        return 100
    blocks = _gestalt_blocks(shorter, longer, _gestalt_b2j(longer))
    best = 0.0
    seen: set = set()
    a_count: dict = {}
    for ch in shorter:
        a_count[ch] = a_count.get(ch, 0) + 1
    # difflib appends a (la, lb, 0) sentinel block; fuzzywuzzy iterates it
    # like any other, proposing window start lb - la (clamped >= 0).
    for a_i, b_j, _size in blocks + [(m, n, 0)]:
        long_start = b_j - a_i if b_j > a_i else 0
        if long_start in seen:
            continue
        seen.add(long_start)
        w = longer[long_start : long_start + m]
        lw = m + len(w)
        if lw == 0:
            r = 1.0  # difflib._calculate_ratio on two empty strings
        else:
            if long_start == 0 and len(w) == n:
                # window IS `longer` (equal lengths): blocks already known
                matches = sum(k for _, _, k in blocks)
            else:
                inter = 0
                w_count: dict = {}
                for ch in w:
                    w_count[ch] = w_count.get(ch, 0) + 1
                for ch, c in a_count.items():
                    cw = w_count.get(ch, 0)
                    inter += c if c < cw else cw
                if 2.0 * inter / lw <= best:  # exact quick_ratio bound
                    continue
                matches = sum(
                    k for _, _, k in _gestalt_blocks(shorter, w, _gestalt_b2j(w))
                )
            r = 2.0 * matches / lw
        if r > 0.995:
            return 100
        if r > best:
            best = r
    return int(round(100 * best))


def partial_ratio_reference_batch(xs, ys) -> np.ndarray:
    ux, uy, back = _unique_pairs(xs, ys)
    out = np.empty(len(ux), dtype=np.int64)
    for i in range(len(ux)):
        out[i] = _partial_ratio_fast(ux[i], uy[i])
    return out[back]


# ---------------------------------------------------------------------------
# Char-n-gram hashed cosine (EMB_DISTANCE stand-in, deterministic)
# ---------------------------------------------------------------------------

# 128 buckets: ~15 grams/name -> <1 expected collision (birthday bound),
# and 8x less memory traffic than 1024 — the dense count matrix was the
# single worst parallel-scaling offender (3.4x aggregate at 16 cores).
_NGRAM_DIM = 128
_MIX = np.uint64(0x9E3779B97F4A7C15).astype(np.int64)


def _ngram_count_matrix(strs, n: int = 3, dim: int = _NGRAM_DIM) -> np.ndarray:
    """Dense (batch, dim) float32 char-n-gram count matrix, fully vectorized:
    code-point windows are combined into int64 keys and hash-mixed into
    ``dim`` buckets, accumulated with one ``np.bincount`` (an order of
    magnitude faster than the buffered ``np.add.at`` ufunc).  Strings
    shorter than ``n`` use a single whole-string key so they still compare
    equal to themselves."""
    mat, lens = encode_batch(strs)
    rows = len(strs)
    L = mat.shape[1]
    if rows and L >= n:
        keys = np.zeros((rows, L - n + 1), dtype=np.int64)
        for o in range(n):
            keys = keys * np.int64(1114112) + mat[:, o : L - n + 1 + o].astype(np.int64)
        valid = (np.arange(L - n + 1)[None, :] + n) <= lens[:, None]
        h = ((keys * _MIX) >> np.int64(17)) % dim
        r_idx, c_idx = np.nonzero(valid)
        flat = r_idx.astype(np.int64) * dim + h[r_idx, c_idx]
        counts = (
            np.bincount(flat, minlength=rows * dim)
            .astype(np.float32)
            .reshape(rows, dim)
        )
    else:
        counts = np.zeros((rows, dim), dtype=np.float32)
    short = lens < n
    if short.any():
        mix = 0x9E3779B97F4A7C15
        for k in np.nonzero(short)[0]:
            key = 0
            for ch in strs[k]:
                key = key * 1114112 + ord(ch)
            if lens[k] > 0:
                # Same mix as the vectorized path, in wrapping 64-bit Python ints.
                h = (((key * mix) % (1 << 64)) - (1 << 63)) % (1 << 64) - (1 << 63)
                counts[k, (h >> 17) % dim] += 1.0
    return counts


def _unique_index(*seqs):
    """Map every string in the given aligned sequences to a compact unique
    id; returns (unique_list, [index_array per seq]).  Pair batches repeat
    names heavily (blocking emits each name against many candidates), so
    per-unique work beats per-row work by the repetition factor."""
    ids: dict = {}
    idx_arrays = []
    for seq in seqs:
        arr = np.empty(len(seq), dtype=np.int64)
        for k, s in enumerate(seq):
            i = ids.get(s)
            if i is None:
                i = len(ids)
                ids[s] = i
            arr[k] = i
        idx_arrays.append(arr)
    return list(ids), idx_arrays


def ngram_cosine_batch(xs, ys, n: int = 3) -> np.ndarray:
    uniq, (ix, iy) = _unique_index(xs, ys)
    C = _ngram_count_matrix(uniq, n)
    norms = np.sqrt(np.einsum("ij,ij->i", C, C))
    dots = np.einsum("ij,ij->i", C[ix], C[iy])
    denom = norms[ix] * norms[iy]
    out = np.where(denom > 0, dots / np.maximum(denom, 1e-12), 0.0)
    return np.clip(out.astype(np.float64), 0.0, 1.0)


# ---------------------------------------------------------------------------
# Jaro-Winkler (named in the target feature set alongside Levenshtein,
# token-set Jaccard and n-gram cosine; robust to prefix-preserving aliases
# like JOHN WICK ~ JONATHAN WICK where corpus-fitted features go blind)
# ---------------------------------------------------------------------------


def jaro_winkler(s1: str, s2: str, p: float = 0.1) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * p * (1.0 - jaro)


def _jw_core_batch(xs, ys, p: float = 0.1) -> np.ndarray:
    """Vectorized Jaro-Winkler across the batch dimension: the greedy
    window matching advances one s1-position per step for ALL rows at once
    (numpy boolean algebra over the padded code-point matrices), then
    transpositions and the common-prefix bonus are computed with one
    scatter/cumsum pass each.  Bit-identical to :func:`jaro_winkler`
    (equality-tested in tests/test_kernel_equivalence.py)."""
    n = len(xs)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    eq = np.fromiter((x == y for x, y in zip(xs, ys)), dtype=bool, count=n)
    out[eq] = 1.0
    A, la = encode_batch(xs)
    B, lb = encode_batch(ys)
    L1, L2 = A.shape[1], B.shape[1]
    act = ~eq & (la > 0) & (lb > 0)
    if not act.any():
        return out
    window = np.maximum(la, lb) // 2 - 1  # may be -1: two 1-char strings never match
    m1 = np.zeros((n, L1), dtype=bool)
    m2 = np.zeros((n, L2), dtype=bool)
    matches = np.zeros(n, dtype=np.int32)
    cols = np.arange(L2, dtype=np.int32)
    # Two reused (n, L2) scratch buffers — fresh temporaries per position
    # would make this loop allocation-bound (and memory bandwidth is the
    # scarce resource on many-core hosts).
    cand = np.empty((n, L2), dtype=bool)
    tmp = np.empty((n, L2), dtype=bool)
    for i in range(L1):
        rows = act & (la > i)
        if not rows.any():
            break
        lo = np.maximum(0, i - window)
        hi = np.minimum(lb, i + window + 1)
        np.equal(B, A[:, i][:, None], out=cand)
        np.logical_not(m2, out=tmp)
        cand &= tmp
        np.greater_equal(cols, lo[:, None], out=tmp)
        cand &= tmp
        np.less(cols, hi[:, None], out=tmp)
        cand &= tmp
        cand &= rows[:, None]
        has = cand.any(axis=1)
        if has.any():
            j = cand.argmax(axis=1)  # first unmatched in-window hit (greedy)
            r = np.nonzero(has)[0]
            m2[r, j[r]] = True
            m1[r, i] = True
            matches[r] += 1
    got = act & (matches > 0)
    if not got.any():
        return out
    mmax = int(matches.max())
    s1m = np.full((n, mmax), -1, dtype=np.int32)
    s2m = np.full((n, mmax), -2, dtype=np.int32)
    rows_idx = np.arange(n)
    # np.nonzero is row-major, so entries of one row arrive in column order;
    # rank-within-row = running index minus the row's first running index.
    r1, c1 = np.nonzero(m1)
    first1 = np.searchsorted(r1, rows_idx)
    s1m[r1, np.arange(len(r1)) - first1[r1]] = A[r1, c1]
    r2, c2 = np.nonzero(m2)
    first2 = np.searchsorted(r2, rows_idx)
    s2m[r2, np.arange(len(r2)) - first2[r2]] = B[r2, c2]
    in_m = np.arange(mmax)[None, :] < matches[:, None]
    t = ((s1m != s2m) & in_m).sum(axis=1) // 2
    m = matches.astype(np.float64)
    md = np.maximum(m, 1.0)
    jaro = (
        m / np.maximum(la, 1) + m / np.maximum(lb, 1) + (m - t) / md
    ) / 3.0
    pmax = min(4, L1, L2)
    if pmax > 0:
        pe = (A[:, :pmax] == B[:, :pmax]) & (
            np.arange(pmax)[None, :] < np.minimum(la, lb)[:, None]
        )
        prefix = np.zeros(n, dtype=np.int64)
        alive = np.ones(n, dtype=bool)
        for k in range(pmax):  # count of leading equal chars, unrolled
            alive &= pe[:, k]
            prefix += alive
    else:
        prefix = np.zeros(n, dtype=np.int64)
    res = jaro + prefix * p * (1.0 - jaro)
    out[got] = res[got]
    return out


def _unique_pairs(xs, ys):
    """Dedup aligned string pairs; returns (ux, uy, back-index array)."""
    ids: dict = {}
    n = len(xs)
    back = np.empty(n, dtype=np.int64)
    ux: list = []
    uy: list = []
    for k in range(n):
        key = (xs[k], ys[k])
        i = ids.get(key)
        if i is None:
            i = len(ids)
            ids[key] = i
            ux.append(xs[k])
            uy.append(ys[k])
        back[k] = i
    return ux, uy, back


def _jw_chunked(xs, ys, chunk: int = 8192) -> np.ndarray:
    """Length-sorted, chunked driver for :func:`_jw_core_batch` — one long
    outlier must not widen the padded matrices (and the per-position loop)
    for the whole batch."""
    n = len(xs)
    if n <= chunk:
        return _jw_core_batch(xs, ys)
    order = sorted(range(n), key=lambda k: max(len(xs[k]), len(ys[k])))
    out = np.zeros(n, dtype=np.float64)
    for s in range(0, n, chunk):
        part = order[s : s + chunk]
        out[part] = _jw_core_batch([xs[k] for k in part], [ys[k] for k in part])
    return out


def jaro_winkler_batch(xs, ys) -> np.ndarray:
    if len(xs) == 0:
        return np.zeros(0, dtype=np.float64)
    ux, uy, back = _unique_pairs(xs, ys)
    return _jw_chunked(ux, uy)[back]


def len_diff_batch(xs, ys) -> np.ndarray:
    return np.abs(
        np.fromiter((len(s) for s in xs), dtype=np.int64, count=len(xs))
        - np.fromiter((len(s) for s in ys), dtype=np.int64, count=len(ys))
    )


# ---------------------------------------------------------------------------
# Monge-Elkan token alignment with Jaro-Winkler inner similarity.
# Separates alias transforms (initials "J" ~ "JOHN", diminutives
# "WIN" ~ "WINSTON") from hard negatives (MARIANNE ~ MONIQUE): aliases keep
# every token prefix-compatible with some token of the other name.
# ---------------------------------------------------------------------------


def monge_elkan_jw(x: str, y: str) -> float:
    tx, ty = x.split(), y.split()
    if not tx or not ty:
        return 0.0

    def one_way(a, b):
        return sum(max(jaro_winkler(t, u) for u in b) for t in a) / len(a)

    return 0.5 * (one_way(tx, ty) + one_way(ty, tx))


def monge_elkan_jw_batch(xs, ys) -> np.ndarray:
    """Batch Monge-Elkan: every token cross-pair in the batch is flattened
    into ONE vectorized Jaro-Winkler call (token pairs deduped inside
    :func:`jaro_winkler_batch`), then the per-name max/mean reductions run
    as numpy segment ops.  Bit-identical to :func:`monge_elkan_jw`."""
    n = len(xs)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    ux, uy, back = _unique_pairs(xs, ys)
    u = len(ux)
    txs = [x.split() for x in ux]
    tys = [y.split() for y in uy]
    lefts: list = []
    rights: list = []
    row_gid: list = []  # global (pair, left-token) group
    col_gid: list = []  # global (pair, right-token) group
    row_of: list = []  # pair index per row group
    col_of: list = []  # pair index per col group
    for q in range(u):
        tx, ty = txs[q], tys[q]
        if not tx or not ty:
            continue
        r0, c0 = len(row_of), len(col_of)
        row_of.extend([q] * len(tx))
        col_of.extend([q] * len(ty))
        for i in range(len(tx)):
            for j in range(len(ty)):
                lefts.append(tx[i])
                rights.append(ty[j])
                row_gid.append(r0 + i)
                col_gid.append(c0 + j)
    res = np.zeros(u, dtype=np.float64)
    if lefts:
        sims = jaro_winkler_batch(lefts, rights)
        row_gid = np.asarray(row_gid, dtype=np.int64)
        col_gid = np.asarray(col_gid, dtype=np.int64)
        rowmax = np.full(len(row_of), -1.0)
        np.maximum.at(rowmax, row_gid, sims)
        colmax = np.full(len(col_of), -1.0)
        np.maximum.at(colmax, col_gid, sims)
        row_of = np.asarray(row_of, dtype=np.int64)
        col_of = np.asarray(col_of, dtype=np.int64)
        sum_x = np.zeros(u)
        np.add.at(sum_x, row_of, rowmax)  # in-order adds == scalar sum order
        sum_y = np.zeros(u)
        np.add.at(sum_y, col_of, colmax)
        nx = np.bincount(row_of, minlength=u).astype(np.float64)
        ny = np.bincount(col_of, minlength=u).astype(np.float64)
        ok = (nx > 0) & (ny > 0)
        res[ok] = 0.5 * (
            sum_x[ok] / nx[ok] + sum_y[ok] / ny[ok]
        )
    return res[back]


# ---------------------------------------------------------------------------
# Core-name ratio: RATIO after stripping legal-entity designator tokens.
# Public standard designator list; lets ORGA aliases like
# "APPLE INC" ~ "APPLE CORPORATION" compare on their distinctive core.
# ---------------------------------------------------------------------------

LEGAL_SUFFIXES = frozenset(
    """
INC INCORPORATED CORP CORPORATION CO COMPANY LTD LIMITED LLC LLP LP PLC
GMBH AG SA SAS SRL BV NV OY AB AS SPA PTE PTY KK PT TBK SDN BHD
HOLDINGS HOLDING GROUP INTERNATIONAL ENTERPRISES ENTERPRISE
""".split()
)


def strip_legal_suffixes(s: str) -> str:
    tokens = [t for t in s.split() if t not in LEGAL_SUFFIXES]
    return " ".join(tokens) if tokens else s


# Generic business KIND words: the open-class organization-type vocabulary
# (what the business IS) as opposed to the closed legal-form suffixes above
# (how it is registered).  Used by features.kind_initial_batch to tell a
# person initial expanding to a given name ("J SMITH" ~ "JOHN SMITH",
# a match) from a single letter that only "expands" to an org kind word
# ("H PINNACLE" ~ "HOTEL PINNACLE", cross-type — org aliases abbreviate
# their kind word, they do not take person-style initial forms).
KIND_WORDS = frozenset(
    """
HOTEL HOTELS MOTEL RESORT RESORTS HOSTEL LODGE INN SUITES RESIDENCES
RESTAURANT RESTAURANTS CAFE BISTRO BAKERY BAR GRILL KITCHEN CATERING
BANK BANKING INSURANCE CAPITAL FINANCE FINANCIAL SECURITIES INVESTMENTS
TRADING TRADERS LOGISTICS SHIPPING FREIGHT TRANSPORT TRANSPORTATION
SYSTEMS SOLUTIONS TECHNOLOGIES TECHNOLOGY SOFTWARE CONSULTING CONSULTANTS
PARTNERS ASSOCIATES AGENCY SERVICES INDUSTRIES MANUFACTURING CONSTRUCTION
PROPERTIES REALTY STORE STORES SHOP MARKET MARKETS PHARMACY CLINIC
HOSPITAL LABORATORIES LABS STUDIO STUDIOS MEDIA PUBLISHING TRAVEL TOURS
AIRLINES AIRWAYS MOTORS AUTOMOTIVE ENERGY PETROLEUM MINING FARMS FOODS
BEVERAGES BREWERY DISTILLERY TEXTILES APPAREL JEWELERS UNIVERSITY COLLEGE
ACADEMY INSTITUTE FOUNDATION ASSOCIATION SOCIETY CLUB FEDERATION UNION
""".split()
) | LEGAL_SUFFIXES


def core_ratio_batch(xs, ys, memo: dict | None = None) -> np.ndarray:
    return ratio_batch(
        [strip_legal_suffixes(s) for s in xs],
        [strip_legal_suffixes(s) for s in ys],
        memo=memo,
    )


# ---------------------------------------------------------------------------
# Absolute aligned edit distance.  Every ratio-family feature is
# length-NORMALIZED, which hides the one separation that matters inside
# dense confusable webs: a true typo/merge alias differs from its partner
# by 0-2 absolute edits, while a near-miss core (a grafted or substituted
# syllable — a different entity) differs by 3+, and on long names both
# land at the same high ratio.  Token sort + space collapse makes the
# distance invariant to token swaps and merge/split variants; designator
# stripping makes it invariant to legal-suffix families.
# ---------------------------------------------------------------------------

_ALIGN_EDIT_CAP = 10


def align_core(s: str, sort: bool = True) -> str:
    toks = strip_legal_suffixes(s).split()
    return "".join(sorted(toks) if sort else toks)


def align_edit(x: str, y: str) -> float:
    """min over {sorted, original} token order of
    lev(align_core(x), align_core(y)), capped at 10 — scalar spec twin.
    The original-order variant guards against the sort flip a first-char
    typo can cause ("PINQUI TRADING" ~ "PIKQUI TRADING" must stay at 1)."""
    d = min(
        levenshtein(align_core(x), align_core(y)),
        levenshtein(align_core(x, sort=False), align_core(y, sort=False)),
    )
    return float(min(d, _ALIGN_EDIT_CAP))


def align_edit_batch(xs, ys, memo: dict | None = None) -> np.ndarray:
    ds = levenshtein_batch(
        [align_core(s) for s in xs], [align_core(s) for s in ys], memo=memo
    )
    do = levenshtein_batch(
        [align_core(s, sort=False) for s in xs],
        [align_core(s, sort=False) for s in ys],
        memo=memo,
    )
    return np.minimum(np.minimum(ds, do), _ALIGN_EDIT_CAP).astype(np.float64)


# ---------------------------------------------------------------------------
# Weakest-link token alignment.  True aliases keep EVERY token compatible
# with its aligned partner (exact, single-char initial, prefix/typo); pairs
# of different entities sharing a surname have one incompatible token
# ("ADRIAN" vs "ANNA", "P" vs "Y") that the min exposes where means hide it.
# ---------------------------------------------------------------------------


def _token_sim(a: str, b: str) -> float:
    if a == b:
        return 1.0
    if len(a) == 1 or len(b) == 1:
        # Single-char initial: full credit iff it matches the partner's
        # first char, else a hard zero (an initial carries exactly one bit).
        return 1.0 if (a[0] == b[0] and len(a) != len(b)) else 0.0
    if a.startswith(b) or b.startswith(a):
        return 1.0  # diminutive / truncation
    return jaro_winkler(a, b)


def token_weakest_link(x: str, y: str) -> float:
    tx, ty = x.split(), y.split()
    if not tx or not ty:
        return 0.0
    if len(tx) > len(ty):
        tx, ty = ty, tx
    remaining = list(ty)
    worst = 1.0
    for t in tx:
        best_i, best_s = 0, -1.0
        for i, u in enumerate(remaining):
            s = _token_sim(t, u)
            if s > best_s:
                best_i, best_s = i, s
        remaining.pop(best_i)
        worst = min(worst, best_s)
    # Leftover tokens of the longer side are ignored (org designators,
    # middle names) — the Jaccard/ratio features already penalize them.
    return worst


def _token_align_stats_batch(xs, ys) -> tuple[np.ndarray, np.ndarray]:
    """(worst_sim, max_excess) per pair in ONE alignment pass.

    All token-pair similarities are precomputed in one deduped vectorized
    pass (:func:`_token_sim` overrides resolved in Python — cheap string
    predicates — and the Jaro-Winkler remainder in ONE :func:`_jw_core_batch`
    call); the tiny greedy assignment then runs per unique name pair over
    the precomputed matrix.  Bit-identical to :func:`token_weakest_link` /
    :func:`token_sub_excess`; computing both here lets the scorer pay the
    alignment + JW precompute once."""
    n = len(xs)
    if n == 0:
        return np.zeros(0, dtype=np.float64), np.zeros(0, dtype=np.float64)
    ux, uy, back = _unique_pairs(xs, ys)
    u = len(ux)
    # Tokenize with the scalar function's swap-to-shorter convention.
    sides = []
    for q in range(u):
        tx, ty = ux[q].split(), uy[q].split()
        if len(tx) > len(ty):
            tx, ty = ty, tx
        sides.append((tx, ty))
    # Unique token pairs across the whole batch.
    tp_ids: dict = {}
    ta: list = []
    tb: list = []

    def tp_id(a: str, b: str) -> int:
        i = tp_ids.get((a, b))
        if i is None:
            i = len(ta)
            tp_ids[(a, b)] = i
            ta.append(a)
            tb.append(b)
        return i

    mats = []
    for tx, ty in sides:
        mats.append([[tp_id(a, b) for b in ty] for a in tx])
    sims = np.empty(len(ta), dtype=np.float64)
    need: list = []
    for i in range(len(ta)):
        a, b = ta[i], tb[i]
        if a == b:
            sims[i] = 1.0
        elif len(a) == 1 or len(b) == 1:
            sims[i] = 1.0 if (a[0] == b[0] and len(a) != len(b)) else 0.0
        elif a.startswith(b) or b.startswith(a):
            sims[i] = 1.0
        else:
            need.append(i)
    if need:
        sims[need] = _jw_chunked([ta[i] for i in need], [tb[i] for i in need])
    res = np.zeros(u, dtype=np.float64)
    # Aligned token-pair ids per unique name pair (excess needs the actual
    # partners the greedy assignment picked, not just the min similarity).
    aligned: list[list[int]] = []
    for q in range(u):
        tx, ty = sides[q]
        chosen: list[int] = []
        aligned.append(chosen)
        if not tx or not ty:
            continue
        mat = mats[q]
        remaining = list(range(len(ty)))
        worst = 1.0
        for i in range(len(tx)):
            row = mat[i]
            best_pos, best_s = 0, -1.0
            for pos, j in enumerate(remaining):
                s = sims[row[j]]
                if s > best_s:
                    best_pos, best_s = pos, s
            chosen.append(row[remaining.pop(best_pos)])
            worst = best_s if best_s < worst else worst
        res[q] = worst
    # Excess per unique TOKEN pair: 0 for the special-cased relations
    # (equal, initial, prefix containment), else max(0, lev - 1) — one
    # levenshtein_batch call over the token pairs that need it.
    excess = np.zeros(len(ta), dtype=np.float64)
    lev_need = [
        i
        for i in range(len(ta))
        if not (
            ta[i] == tb[i]
            or len(ta[i]) == 1
            or len(tb[i]) == 1
            or ta[i].startswith(tb[i])
            or tb[i].startswith(ta[i])
        )
    ]
    if lev_need:
        d = levenshtein_batch([ta[i] for i in lev_need], [tb[i] for i in lev_need])
        excess[lev_need] = np.maximum(d.astype(np.float64) - 1.0, 0.0)
    exc = np.zeros(u, dtype=np.float64)
    for q in range(u):
        ids = aligned[q]
        if ids:
            exc[q] = min(max(excess[i] for i in ids), _TOKEN_EXCESS_CAP)
    return res[back], exc[back]


_TOKEN_EXCESS_CAP = 5.0


def _token_excess(a: str, b: str) -> float:
    if a == b or len(a) == 1 or len(b) == 1:
        return 0.0
    if a.startswith(b) or b.startswith(a):
        return 0.0
    return float(max(0, levenshtein(a, b) - 1))


def token_sub_excess(x: str, y: str) -> float:
    """Max over greedily-aligned token pairs of the edit distance BEYOND
    the single-substitution typo allowance — scalar spec twin.

    The typo alias grammar (reference utils.py:96-129) substitutes at most
    ONE character per token, so any aligned token pair at edit distance
    >= 2 that is not an initial/prefix relation is evidence of a different
    underlying name (e.g. a substituted syllable in a synthesized core:
    "PIKKASMON" ~ "PIKRAVMON" = 2 edits in one token — no ratio-family
    feature separates that from a two-token typo alias, which also has 2
    edits but 1 per token)."""
    tx, ty = x.split(), y.split()
    if not tx or not ty:
        return 0.0
    if len(tx) > len(ty):
        tx, ty = ty, tx
    remaining = list(ty)
    worst = 0.0
    for t in tx:
        best_i, best_s = 0, -1.0
        for i, v in enumerate(remaining):
            s = _token_sim(t, v)
            if s > best_s:
                best_i, best_s = i, s
        partner = remaining.pop(best_i)
        e = _token_excess(t, partner)
        if e > worst:
            worst = e
    return min(worst, _TOKEN_EXCESS_CAP)
