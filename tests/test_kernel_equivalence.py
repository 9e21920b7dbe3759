"""Bit-identity tests: the vectorized batch kernels must reproduce the
scalar spec functions exactly.

The scalar implementations (``jaro_winkler``, ``monge_elkan_jw``,
``token_weakest_link``, ``token_sub_excess``) ARE the executable spec
(they encode the reference semantics, build_features.py in
vietexob/name-matching); the vectorized
paths exist purely for throughput inside the Arrow scorer UDF, so any
difference — even one ulp — is a bug (the trained GBM artifact depends on
exact feature values)."""

import numpy as np
import pytest

from name_matching_spark.functions import similarity as sim
from name_matching_spark.functions.features import FEATURE_COLS
from name_matching_spark.model.gbm import _CHUNK, GBMClassifier, _Tree

EDGE = ["", "A", "B", "AB", "BA", "A B", "AA", " ", "ABCD", "DCBA",
        "JOHN WICK", "J WICK", "JONATHAN WICK", "WICK", "X Y Z", "ZYX"]


def _rand_strings(rng, n, alphabet="AB CDE", max_len=12):
    out = []
    for _ in range(n):
        k = int(rng.integers(0, max_len))
        s = "".join(rng.choice(list(alphabet), size=k))
        out.append(" ".join(s.split()))  # normalized single-space form
    return out


def _pairs():
    rng = np.random.default_rng(1234)
    xs = EDGE + _rand_strings(rng, 400)
    ys = EDGE[::-1] + _rand_strings(rng, 400)
    # add labeled-corpus pairs when available (the real distribution)
    try:
        from name_matching_spark.model.train import load_labeled_pairs

        df = load_labeled_pairs()
        xs += df["name_x_norm"].tolist()[:3000]
        ys += df["name_y_norm"].tolist()[:3000]
    except Exception:
        pass
    return xs, ys


XS, YS = _pairs()


def test_jaro_winkler_batch_matches_scalar():
    got = sim.jaro_winkler_batch(XS, YS)
    exp = np.fromiter(
        (sim.jaro_winkler(x, y) for x, y in zip(XS, YS)), dtype=np.float64
    )
    assert np.array_equal(got, exp)


def test_jw_symmetric_orientation_cases():
    # window = -1 regime (two 1-char strings) and asymmetric lengths
    cases = [("A", "B"), ("A", "A"), ("A", "AB"), ("AB", "A"),
             ("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), ("", "")]
    xs = [c[0] for c in cases]
    ys = [c[1] for c in cases]
    got = sim.jaro_winkler_batch(xs, ys)
    exp = [sim.jaro_winkler(x, y) for x, y in cases]
    assert list(got) == exp


def test_monge_elkan_batch_matches_scalar():
    got = sim.monge_elkan_jw_batch(XS, YS)
    exp = np.fromiter(
        (sim.monge_elkan_jw(x, y) for x, y in zip(XS, YS)), dtype=np.float64
    )
    assert np.array_equal(got, exp)


def test_token_weakest_link_batch_matches_scalar():
    # the scorer reads both features from one alignment pass; this is the
    # weakest-link half
    worst, _ = sim._token_align_stats_batch(XS, YS)
    exp = np.fromiter(
        (sim.token_weakest_link(x, y) for x, y in zip(XS, YS)), dtype=np.float64
    )
    assert np.array_equal(worst, exp)


def test_token_sub_excess_batch_matches_scalar():
    _, excess = sim._token_align_stats_batch(XS, YS)
    exp = np.fromiter(
        (sim.token_sub_excess(x, y) for x, y in zip(XS, YS)), dtype=np.float64
    )
    assert np.array_equal(excess, exp)


def test_ngram_cosine_batch_matches_direct():
    # direct per-pair computation without the unique-string gather
    got = sim.ngram_cosine_batch(XS, YS)
    cx = sim._ngram_count_matrix(XS)
    cy = sim._ngram_count_matrix(YS)
    dots = np.einsum("ij,ij->i", cx, cy)
    nx = np.sqrt(np.einsum("ij,ij->i", cx, cx))
    ny = np.sqrt(np.einsum("ij,ij->i", cy, cy))
    denom = nx * ny
    exp = np.clip(
        np.where(denom > 0, dots / np.maximum(denom, 1e-12), 0.0).astype(np.float64),
        0.0,
        1.0,
    )
    assert np.array_equal(got, exp)


def test_gbm_packed_predict_matches_per_tree():
    rng = np.random.default_rng(7)
    X = rng.random((2000, 6))
    y = (X[:, 0] + 0.3 * X[:, 1] > 0.8).astype(float)
    model = GBMClassifier(n_estimators=40, max_depth=3).fit(X, y)
    packed = model.predict_proba(X)
    margin = np.full(len(X), model.base_score)
    for tree in model.trees:
        margin += model.learning_rate * tree.predict(X)
    exp = 1.0 / (1.0 + np.exp(-margin))
    assert np.array_equal(packed, exp)


def test_gbm_roundtrip_predict_identical():
    rng = np.random.default_rng(11)
    X = rng.random((500, 4))
    y = (X[:, 0] > 0.5).astype(float)
    model = GBMClassifier(n_estimators=20, max_depth=3).fit(X, y)
    clone = GBMClassifier.from_json(model.to_json())
    assert np.array_equal(model.predict_proba(X), clone.predict_proba(X))


def _per_tree_margin(model, X):
    margin = np.full(len(X), model.base_score)
    for tree in model.trees:
        margin += model.learning_rate * tree.predict(X)
    return margin


@pytest.fixture(scope="module")
def shipped_gbm():
    from name_matching_spark.model.train import MODEL_PATH

    with open(MODEL_PATH) as fh:
        return GBMClassifier.from_json(fh.read())


@pytest.mark.parametrize("n", [0, 1, _CHUNK - 1, _CHUNK, _CHUNK + 1, 2 * _CHUNK + 7])
def test_gbm_forest_descent_matches_per_tree_on_shipped_model(shipped_gbm, n):
    """The lock-step descent over the shipped forest equals the per-tree
    sum bit for bit: on values drawn from the forest's own thresholds (the
    ``<=`` boundary and its float neighbours), on uniform values, and with
    NaN cells and all-NaN rows (NaN goes right), across chunk edges."""
    model = shipped_gbm
    n_feat = len(FEATURE_COLS)
    rng = np.random.default_rng(n)
    X = rng.uniform(-0.5, 1.5, (n, n_feat)) * rng.choice([1.0, 100.0], n_feat)
    for f in range(n_feat):
        thr = np.array([t.threshold[i] for t in model.trees
                        for i, g in enumerate(t.feature) if g == f])
        if len(thr):
            pick = rng.choice(thr, n)
            step = np.nextafter(pick, rng.choice([-np.inf, np.inf], n))
            pick = np.where(rng.random(n) < 0.5, pick, step)
            X[:, f] = np.where(rng.random(n) < 0.7, pick, X[:, f])
    X[rng.random((n, n_feat)) < 0.05] = np.nan
    X[rng.random(n) < 0.02] = np.nan
    assert np.array_equal(model.predict_margin(X), _per_tree_margin(model, X))


def _tree(feature, threshold, left, right, value):
    t = _Tree()
    t.feature, t.threshold, t.left, t.right, t.value = feature, threshold, left, right, value
    return t


def test_gbm_forest_descent_single_leaf_tree_and_no_trees():
    """A single-leaf tree (depth 0) beside deeper trees adds its value to
    every row, NaN rows included; a model with no trees returns
    ``base_score``."""
    model = GBMClassifier(learning_rate=0.3)
    model.base_score = -0.7
    model.trees = [
        _tree([1, 0, -1, -1, -1], [0.5, 0.25, 0, 0, 0], [1, 3, -1, -1, -1],
              [2, 4, -1, -1, -1], [0.0, 0.0, 1.5, -2.0, 0.75]),
        _tree([-1], [0.0], [-1], [-1], [0.1]),
        # children listed before their parent: ids need not be pre-order
        _tree([-1, -1, 2], [0, 0, 0.5], [-1, -1, 0], [-1, -1, 1], [0.2, -0.4, 0.0]),
    ]
    rng = np.random.default_rng(3)
    X = rng.random((50, 3))
    X[::7] = np.nan
    X[1] = [0.25, 0.5, 0.5]  # every test on its threshold
    assert np.array_equal(model.predict_margin(X), _per_tree_margin(model, X))
    model.trees = [model.trees[1]]
    assert np.array_equal(model.predict_margin(X), _per_tree_margin(model, X))
    model.trees = []
    for n in (0, 1, 5):
        got = model.predict_margin(np.zeros((n, 3)))
        assert got.shape == (n,) and np.array_equal(got, np.full(n, -0.7))


@pytest.mark.parametrize("n", [0, 1])
def test_batch_kernels_tiny_inputs(n):
    xs = ["AB"][:n]
    ys = ["BA"][:n]
    assert len(sim.jaro_winkler_batch(xs, ys)) == n
    assert len(sim.monge_elkan_jw_batch(xs, ys)) == n
    worst, excess = sim._token_align_stats_batch(xs, ys)
    assert len(worst) == len(excess) == n


def test_myers_levenshtein_exhaustive_small():
    from itertools import product

    small = [""]
    for l in range(1, 5):
        small += ["".join(p) for p in product("AB", repeat=l)]
    xs, ys = [], []
    for a in small:
        for b in small:
            xs.append(a)
            ys.append(b)
    assert np.array_equal(sim._lev_myers(xs, ys), sim._lev_core(xs, ys))


def test_myers_levenshtein_random_and_boundary():
    rng = np.random.default_rng(99)

    def rs(n, lmax, alphabet="ABCDE "):
        return [
            "".join(rng.choice(list(alphabet), size=rng.integers(0, lmax)))
            for _ in range(n)
        ]

    for lmax in (10, 54):
        xs, ys = rs(800, lmax), rs(800, lmax)
        keep = [k for k in range(len(xs)) if min(len(xs[k]), len(ys[k])) <= 53]
        xs = [xs[k] for k in keep]
        ys = [ys[k] for k in keep]
        assert np.array_equal(sim._lev_myers(xs, ys), sim._lev_core(xs, ys))


def test_levenshtein_batch_routes_long_strings():
    xs = ["A" * 80, "AB" * 40, "kitten"]
    ys = ["A" * 79 + "B", "BA" * 40, "sitting"]
    assert list(sim.levenshtein_batch(xs, ys)) == [1, 2, 3]
