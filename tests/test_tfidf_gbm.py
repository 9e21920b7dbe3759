"""TF-IDF model (driver + distributed fit parity) and the numpy GBM."""

import numpy as np

from name_matching_spark.functions.tfidf import TfidfModel
from name_matching_spark.model.gbm import GBMClassifier

CORPUS = [
    "john smith", "jane doe", "john wick", "agoda company limited",
    "apple incorporated", "winston scott", "hotel continental",
]


def test_tfidf_basics():
    m = TfidfModel.fit(CORPUS)
    assert m.cosine_pairs(["john smith"], ["john smith"])[0] == 1.0
    assert m.cosine_pairs(["john smith"], ["jane doe"])[0] == 0.0
    mid = m.cosine_pairs(["john smith"], ["john wick"])[0]
    assert 0.0 < mid < 1.0


def test_tfidf_max_df_prunes():
    docs = [f"common word{i}" for i in range(10)]
    m = TfidfModel.fit(docs, max_df=0.5)
    assert "common" not in m.vocab
    assert "word3" in m.vocab


def test_tfidf_roundtrip():
    m = TfidfModel.fit(CORPUS)
    m2 = TfidfModel.from_json(m.to_json())
    assert m2.vocab == m.vocab
    a = m.cosine_pairs(["john smith"], ["john wick"])
    b = m2.cosine_pairs(["john smith"], ["john wick"])
    assert np.allclose(a, b)


def test_tfidf_spark_fit_matches_driver_fit(spark):
    names = spark.createDataFrame([(c.upper(),) for c in CORPUS], ["name"])
    m_spark = TfidfModel.fit_spark(names)
    m_driver = TfidfModel.fit(sorted(CORPUS))
    assert m_spark.vocab == m_driver.vocab
    assert np.allclose(m_spark.idf, m_driver.idf)


def test_tfidf_spark_fit_extra_corpus(spark):
    names = spark.createDataFrame([("JOHN WICK",)], ["name"])
    m = TfidfModel.fit_spark(names, extra_corpus=["jane doe"])
    assert "wick" in m.vocab and "doe" in m.vocab


def test_gbm_learns_and_roundtrips():
    rng = np.random.default_rng(1)
    X = rng.normal(size=(3000, 5))
    y = ((X[:, 0] > 0) ^ (X[:, 1] > 0)).astype(float)  # xor: needs depth
    model = GBMClassifier(n_estimators=120, max_depth=3, learning_rate=0.2).fit(X, y)
    acc = ((model.predict_proba(X) > 0.5) == y).mean()
    assert acc > 0.95
    m2 = GBMClassifier.from_json(model.to_json())
    assert np.allclose(m2.predict_proba(X), model.predict_proba(X))


def test_gbm_sample_weight_tilts_conflicted_region():
    # Two identical feature points with conflicting labels: the fitted
    # probability must land at the weighted positive fraction, and tilting
    # the weights must move it.  Also: weight=1 vector == unweighted fit.
    X = np.zeros((200, 1))
    y = np.array([1.0, 0.0] * 100)
    m_even = GBMClassifier(n_estimators=40, max_depth=2).fit(X, y)
    p_even = m_even.predict_proba(np.zeros((1, 1)))[0]
    assert abs(p_even - 0.5) < 0.05
    w = np.where(y == 1, 3.0, 1.0)
    m_tilt = GBMClassifier(n_estimators=40, max_depth=2).fit(X, y, sample_weight=w)
    p_tilt = m_tilt.predict_proba(np.zeros((1, 1)))[0]
    assert abs(p_tilt - 0.75) < 0.05
    rng = np.random.default_rng(3)
    Xr = rng.normal(size=(500, 3))
    yr = (Xr[:, 0] > 0).astype(float)
    a = GBMClassifier(n_estimators=30, max_depth=2).fit(Xr, yr)
    b = GBMClassifier(n_estimators=30, max_depth=2).fit(
        Xr, yr, sample_weight=np.ones(len(yr))
    )
    assert np.allclose(a.predict_proba(Xr), b.predict_proba(Xr))


def test_gbm_probability_monotone_feature():
    rng = np.random.default_rng(2)
    X = rng.uniform(size=(2000, 1))
    y = (X[:, 0] > 0.6).astype(float)
    model = GBMClassifier(n_estimators=50, max_depth=2).fit(X, y)
    p = model.predict_proba(np.array([[0.1], [0.9]]))
    assert p[0] < 0.2 and p[1] > 0.8


def test_tune_grid_search_deterministic():
    """The deterministic grid search (Optuna stand-in): same inputs ->
    same chosen config, results recorded per config, objective =
    holdout F1@threshold with AP tiebreak."""
    import numpy as np

    from name_matching_spark.model.train import tune_grid_search

    rng = np.random.default_rng(3)
    X = rng.random((4000, 5))
    y = ((X[:, 0] + 0.5 * X[:, 1] + 0.1 * rng.random(4000)) > 0.9).astype(float)
    grid = [
        {"n_estimators": 30, "max_depth": 2, "learning_rate": 0.2},
        {"n_estimators": 60, "max_depth": 3, "learning_rate": 0.2},
    ]
    r1 = tune_grid_search(X, y, grid=grid, threshold=0.5)
    r2 = tune_grid_search(X, y, grid=grid, threshold=0.5)
    assert r1["best"] == r2["best"]
    assert r1["best"] in grid
    assert len(r1["results"]) == 2
    assert all("holdout_ap" in r and "holdout_f1" in r for r in r1["results"])
    # selection key: F1 primary, AP tiebreak, then grid order
    best = r1["best"]
    best_rec = next(r for r in r1["results"] if all(r[k] == best[k] for k in best))
    assert best_rec["holdout_f1"] == max(r["holdout_f1"] for r in r1["results"])


def test_tune_cv_ap_deterministic():
    """The reference-parity CV tuning (5-fold CV on average precision,
    the Optuna objective): deterministic folds, per-fold APs recorded,
    winner = max mean AP."""
    import numpy as np

    from name_matching_spark.model.train import tune_cv_ap

    rng = np.random.default_rng(3)
    X = rng.random((3000, 5))
    y = ((X[:, 0] + 0.5 * X[:, 1] + 0.1 * rng.random(3000)) > 0.9).astype(float)
    grid = [
        {"n_estimators": 30, "max_depth": 2, "learning_rate": 0.2},
        {"n_estimators": 60, "max_depth": 3, "learning_rate": 0.2},
    ]
    r1 = tune_cv_ap(X, y, grid=grid, folds=3)
    r2 = tune_cv_ap(X, y, grid=grid, folds=3)

    def strip_timing(r):
        return {**r, "results": [{k: v for k, v in rec.items() if k != "fit_seconds"}
                                 for rec in r["results"]]}

    assert strip_timing(r1) == strip_timing(r2)
    assert r1["best"] in grid
    assert r1["objective"] == "cv_ap" and r1["folds"] == 3
    assert all(len(r["cv_ap_folds"]) == 3 for r in r1["results"])
    best_rec = next(
        r for r in r1["results"] if all(r[k] == r1["best"][k] for k in r1["best"])
    )
    assert best_rec["cv_ap_mean"] == max(r["cv_ap_mean"] for r in r1["results"])


def test_train_records_tuning_metrics(tmp_path):
    """train(tune_grid=...) must persist the chosen params + per-config
    results in the metrics JSON (artifacts redirected to tmp)."""
    import json
    import os

    from name_matching_spark.model.train import train

    grid = [
        {"n_estimators": 20, "max_depth": 2, "learning_rate": 0.3},
        {"n_estimators": 40, "max_depth": 3, "learning_rate": 0.3},
    ]
    metrics = train(
        tune_grid=grid, out_dir=str(tmp_path), verbose=False,
        synthetic_entities=0,
    )
    assert metrics["tuning"]["best"] in grid
    assert metrics["n_estimators"] == metrics["tuning"]["best"]["n_estimators"]
    on_disk = json.load(open(os.path.join(tmp_path, "train_metrics.json")))
    assert on_disk["tuning"] == metrics["tuning"]
    assert os.path.exists(os.path.join(tmp_path, "match_gbm.json"))


def test_render_curves_png_roundtrip():
    """M9 rendered figures: the PNG must decode back (repo codec), have
    the two-panel geometry, and actually contain both curve colors."""
    import numpy as np

    from name_matching_spark.functions import codecs
    from name_matching_spark.model.evaluation import (
        evaluation_curves,
        render_curves_png,
    )

    rng = np.random.default_rng(1)
    y = (rng.random(500) > 0.5).astype(float)
    scores = np.clip(y * 0.6 + rng.random(500) * 0.4, 0, 1)
    curves = evaluation_curves(y, scores)
    payload = render_curves_png(curves, panel=128, margin=16)
    img = codecs.png_decode(payload)
    assert img.shape == (128 + 32, 2 * (128 + 32), 3)
    flat = img.reshape(-1, 3)
    assert (flat == (31, 119, 180)).all(axis=1).any()  # ROC blue plotted
    assert (flat == (214, 39, 40)).all(axis=1).any()   # PR red plotted
    assert (flat == 255).all(axis=1).mean() > 0.5      # mostly canvas


def test_evaluation_curves_known_values():
    """M9 twin: ROC/PR curve points + AUCs against hand-computed values."""
    import numpy as np

    from name_matching_spark.model.evaluation import (
        auc_trapezoid,
        evaluation_curves,
        roc_curve_points,
    )

    y = [1, 0, 1, 0]
    s = [0.9, 0.8, 0.7, 0.1]
    fpr, tpr = roc_curve_points(y, s)
    assert list(fpr) == [0.0, 0.0, 0.5, 0.5, 1.0]
    assert list(tpr) == [0.0, 0.5, 0.5, 1.0, 1.0]
    assert abs(auc_trapezoid(fpr, tpr) - 0.75) < 1e-12

    ev = evaluation_curves(y, s)
    assert ev["roc_auc"] == 0.75
    assert abs(ev["pr_auc"] - (0.5 + 0.25 * (0.5 + 2 / 3))) < 1e-6

    # perfect separation -> both AUCs 1.0
    perfect = evaluation_curves([1, 1, 0, 0], [0.9, 0.8, 0.2, 0.1])
    assert perfect["roc_auc"] == 1.0
    assert perfect["pr_auc"] == 1.0
    # tied scores collapse into one threshold step
    tied = evaluation_curves([1, 0], [0.5, 0.5])
    assert tied["roc_auc"] == 0.5


def test_hashed_tfidf_matches_uncapped_vocab(spark):
    """With n_buckets far above the term count every bucket is a singleton,
    so the hashing-trick model must be numerically identical to an
    uncapped vocabulary fit — and must round-trip through the polymorphic
    TfidfModel.from_json dispatch."""
    from name_matching_spark.functions.tfidf import HashedTfidfModel

    corpus = [
        "ACME GLOBAL HOLDINGS", "ACME GLOBAL", "JOHN WICK", "JONATHAN WICK",
        "ZENITH HOTEL CO LTD", "ZENITH HOTEL", "MARIA GARCIA", "M GARCIA",
        "ATLAS BANK", "ATLAS BANK CO LTD",
    ]
    names_df = spark.createDataFrame([(c,) for c in corpus], ["name"])
    dense = TfidfModel.fit_spark(names_df, max_features=None)
    hashed = HashedTfidfModel.fit_spark(names_df, n_buckets=1 << 20)
    xs = corpus
    ys = corpus[1:] + corpus[:1]
    np.testing.assert_allclose(
        hashed.cosine_pairs(xs, ys), dense.cosine_pairs(xs, ys), atol=1e-12
    )
    # round-trip via the dispatching loader (what the scorer calls)
    back = TfidfModel.from_json(hashed.to_json())
    assert isinstance(back, HashedTfidfModel)
    np.testing.assert_allclose(
        back.cosine_pairs(xs, ys), hashed.cosine_pairs(xs, ys), atol=0
    )
    # unseen terms keep MAX idf instead of dropping to zero: two totally
    # unseen names with one shared rare token still separate from an
    # unrelated unseen name (the anti-OOV-collapse behavior)
    a = hashed.cosine_pairs(["QRZX FOO"], ["QRZX BAR"])[0]
    b = hashed.cosine_pairs(["QRZX FOO"], ["MLPV BAZ"])[0]
    assert a > 0.1 and b == 0.0


def test_adaptive_tfidf_auto_switches_to_hashed_past_ceiling(spark):
    """Crossing the adaptive vocabulary ceiling must FLIP the fit to the
    hashing-trick model (not silently truncate rare terms) and warn."""
    import pytest

    from name_matching_spark.functions.tfidf import HashedTfidfModel

    corpus = [
        "ACME GLOBAL HOLDINGS", "JOHN WICK", "ZENITH HOTEL CO",
        "MARIA GARCIA", "ATLAS BANK LTD", "ORION FREIGHT GROUP",
    ]
    names_df = spark.createDataFrame([(c,) for c in corpus], ["name"])
    # under the ceiling: stays adaptive
    under = TfidfModel.fit_spark(names_df, max_features=None, ceiling=1000)
    assert isinstance(under, TfidfModel)
    # over the ceiling: auto-switch, with a warning
    with pytest.warns(RuntimeWarning, match="auto-switching to hashed"):
        over = TfidfModel.fit_spark(
            names_df, max_features=None, ceiling=5, overflow_n_buckets=1 << 20
        )
    assert isinstance(over, HashedTfidfModel)
    # the switched model keeps EVERY term (no rare-core truncation): with
    # singleton buckets it matches the uncapped dense fit numerically
    xs, ys = corpus, corpus[1:] + corpus[:1]
    np.testing.assert_allclose(
        over.cosine_pairs(xs, ys), under.cosine_pairs(xs, ys), atol=1e-12
    )
    # and the artifact round-trips through the polymorphic loader, so a
    # resumed pipeline scores with the switched model transparently
    assert isinstance(TfidfModel.from_json(over.to_json()), HashedTfidfModel)


def test_pipeline_sidecar_invalidates_on_mode_flip(spark, tmp_path, monkeypatch):
    """A pipeline resume across the adaptive ceiling must refit + record the
    EFFECTIVE fit in the sidecar meta (mode flip => new json_md5 =>
    scored_pairs invalidated via its tfidf fingerprint)."""
    import json as _json
    import os as _os

    import name_matching_spark.functions.tfidf as tfidf_mod
    from name_matching_spark.datagen import write_fixture
    from name_matching_spark.pipeline import EntityResolutionPipeline

    fixture = tmp_path / "fx"
    write_fixture(str(fixture), n_entities=30, convs_per_entity=2, seed=7)
    transcripts = spark.read.parquet(str(fixture / "transcripts.parquet"))
    wh = str(tmp_path / "wh")
    pipe = EntityResolutionPipeline(spark, wh)
    pipe.run(transcripts)
    with open(_os.path.join(wh, "tfidf.json.meta")) as f:
        meta1 = _json.load(f)
    assert meta1["effective_fit"].startswith("adaptive-")
    # shrink the ceiling below this corpus's term count and resume: the
    # fit_cfg fingerprint changes, the sidecar refits, and the effective
    # fit records the hashed switch
    monkeypatch.setattr(tfidf_mod, "ADAPTIVE_VOCAB_CEILING", 10)
    import name_matching_spark.pipeline as pipeline_mod

    monkeypatch.setattr(pipeline_mod, "ADAPTIVE_VOCAB_CEILING", 10)
    pipe2 = EntityResolutionPipeline(spark, wh)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        pipe2.run(transcripts)
    with open(_os.path.join(wh, "tfidf.json.meta")) as f:
        meta2 = _json.load(f)
    assert meta2["effective_fit"].startswith("hashed-")
    assert meta2["json_md5"] != meta1["json_md5"]


def test_gbm_feature_cols_contract_roundtrip():
    # feature_cols survive to_json/from_json; load_artifacts enforces the
    # append-only prefix rule.
    X = np.random.default_rng(0).normal(size=(50, 2))
    y = (X[:, 0] > 0).astype(float)
    m = GBMClassifier(n_estimators=5, max_depth=2).fit(X, y)
    m.feature_cols = ["a", "b"]
    m2 = GBMClassifier.from_json(m.to_json())
    assert m2.feature_cols == ["a", "b"]
    # absent field stays None (pre-contract artifacts load fine)
    m.feature_cols = None
    assert GBMClassifier.from_json(m.to_json()).feature_cols is None


def test_load_artifacts_rejects_reordered_feature_cols(tmp_path):
    import os

    from name_matching_spark.functions.features import FEATURE_COLS
    from name_matching_spark.model.train import TFIDF_PATH, load_artifacts

    X = np.zeros((20, len(FEATURE_COLS)))
    y = np.array([0.0, 1.0] * 10)
    m = GBMClassifier(n_estimators=2, max_depth=1).fit(X, y)
    m.feature_cols = list(reversed(FEATURE_COLS))
    bad = tmp_path / "match_gbm.json"
    bad.write_text(m.to_json())
    import pytest

    with pytest.raises(ValueError, match="not a prefix"):
        load_artifacts(str(bad), TFIDF_PATH)
    # a proper prefix loads
    m.feature_cols = list(FEATURE_COLS[:5])
    bad.write_text(m.to_json())
    load_artifacts(str(bad), TFIDF_PATH)


def test_scorer_artifact_cache_keys_on_full_content():
    """The scorer's per-worker artifact cache serves a parsed model only
    for the exact JSON it was parsed from: a refitted vocabulary of the
    same length (two idf values swapped past the first 64 characters)
    is a different model, not a cache hit."""
    from name_matching_spark.model.train import load_artifacts
    from name_matching_spark.operators.scoring import _artifact_key, _artifacts

    model_json = load_artifacts()[0].to_json()
    vocab = {f"term{i}": i for i in range(8)}
    idf = 1.0 + 0.125 * np.arange(8)
    swapped = idf.copy()
    swapped[[6, 7]] = idf[[7, 6]]
    a = TfidfModel(vocab, idf).to_json()
    b = TfidfModel(vocab, swapped).to_json()
    assert len(a) == len(b) and a[:64] == b[:64] and a != b
    for tfidf_json, want in ((a, idf), (b, swapped)):
        key = _artifact_key(model_json, tfidf_json)
        assert np.array_equal(_artifacts(key, model_json, tfidf_json)[1].idf, want)
