"""Kernel-level tests for the similarity feature functions, mirroring the
reference's behavioral/range expectations
(tests/unit_tests/test_build_features.py:34-118,
test_predict_model.py:232-254 in vietexob/name-matching)."""

import numpy as np

from name_matching_spark.functions import similarity as sim
from name_matching_spark.functions.features import FEATURE_COLS, build_features
from name_matching_spark.functions.tfidf import TfidfModel


def test_levenshtein_basics():
    assert sim.levenshtein("kitten", "sitting") == 3
    assert sim.levenshtein("", "") == 0
    assert sim.levenshtein("abc", "") == 3
    assert sim.levenshtein("", "abc") == 3
    assert sim.levenshtein("same", "same") == 0
    assert list(sim.levenshtein_batch(["ab", "JOHN"], ["ba", "JOHN"])) == [2, 0]


def test_ratio_unstripped_denominator():
    # Reference strips before the distance but uses unstripped lengths
    # (build_features.py:20-41): " AB" vs "AB" -> lev=0, denom=3.
    out = sim.ratio_batch([" AB"], ["AB"])
    assert abs(out[0] - 1.0) < 1e-12  # lev(strip)=0 -> 1 - 0/3 = 1.0
    out = sim.ratio_batch(["ABCD"], ["ABXD"])
    assert abs(out[0] - 0.75) < 1e-12


def test_jaccard_list_length_denominator():
    # commons=1 ({'a'}), len list x=3 (a a b? no: 'a a'), exercise duplicates:
    # x='a a' tokens [a,a], y='a b' tokens [a,b]; commons={'a'} ->
    # 1 / (2 + 2 - 1) = 1/3 (reference uses LIST lengths).
    assert abs(sim.jaccard("a a", "a b") - 1 / 3) < 1e-12
    assert sim.jaccard("", "x") == 0.0
    assert sim.jaccard("x y", "z w") == 0.0
    assert sim.jaccard("JOHN WICK", "WICK JOHN") == 1.0


def test_partial_ratio_scale_and_bounds():
    out = sim.partial_ratio_reference_batch(
        ["WICK", "JOHN WICK", "X", "JOHN"], ["JOHN WICK", "JOHN WICK", "ABC", "JOAN"]
    )
    assert out.dtype == np.int64
    assert out[0] == 100  # exact substring
    assert out[1] == 100  # identical
    assert out[2] == 0    # no shared character
    assert out[3] == 75   # one substitution in four: gestalt 2*3/8
    assert all(0 <= v <= 100 for v in out)


def _fuzzywuzzy_partial_naive(x: str, y: str) -> int:
    """Straight transliteration of the published fuzzywuzzy partial_ratio
    (fuzz.py, with its empty-string guard): no fast paths, no pruning —
    the parity oracle."""
    from difflib import SequenceMatcher

    shorter, longer = (x, y) if len(x) <= len(y) else (y, x)
    if not shorter:
        return 0 if longer else 100
    blocks = SequenceMatcher(None, shorter, longer).get_matching_blocks()
    scores = []
    for a_i, b_j, _size in blocks:
        long_start = b_j - a_i if (b_j - a_i) > 0 else 0
        long_substr = longer[long_start : long_start + len(shorter)]
        r = SequenceMatcher(None, shorter, long_substr).ratio()
        if r > 0.995:
            return 100
        scores.append(r)
    return int(round(100 * max(scores))) if scores else 0


def test_partial_ratio_autojunk_long_inputs():
    """difflib enables autojunk when len(longer) >= 200: popular characters
    of the longer side are junked, so an exact substring can legitimately
    score far below 100 — the substring fast path must not fire there
    (it is guarded to < 200), preserving bit-parity with fuzzywuzzy."""
    short = "DC"
    longer = "CD" * 101  # len 202: C and D are popular -> junked from b2j,
    # so no block proposes the true alignment ('DC' occurs at offset 1) and
    # only the dummy tail window ('CD') is scored
    got = sim.partial_ratio_reference(short, longer)
    assert short in longer  # the old fast path would have said 100 ...
    assert got == _fuzzywuzzy_partial_naive(short, longer) == 50  # ... wrongly
    # below the threshold the substring fast path stays exact
    long2 = "DC" + "CD" * 80  # len 162 < 200
    assert (
        sim.partial_ratio_reference(short, long2)
        == _fuzzywuzzy_partial_naive(short, long2)
        == 100
    )
    # randomized sweep straddling the threshold
    import random

    rng = random.Random(7)
    alpha = "ABC "
    for _ in range(200):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(150, 260)))
        assert sim.partial_ratio_reference(a, b) == _fuzzywuzzy_partial_naive(a, b)


def test_partial_ratio_fast_bit_equal_difflib():
    """The batch path's specialized gestalt matcher (`_partial_ratio_fast`,
    no difflib) must be bit-equal to the difflib-backed
    `partial_ratio_reference` on every input — short names, the >=200-char
    autojunk regime on one side, and both sides long."""
    import random

    rng = random.Random(99)
    alphabets = ["AB", "ABC ", "ABCDE fgh", "abcdefghijklmnop qrstuvwxyz"]
    cases = []
    for _ in range(4000):
        alpha = rng.choice(alphabets)
        cases.append(
            (
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 50))),
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 60))),
            )
        )
    for _ in range(400):
        alpha = rng.choice(alphabets)
        cases.append(
            (
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80))),
                "".join(rng.choice(alpha) for _ in range(rng.randint(150, 400))),
            )
        )
    for _ in range(60):
        alpha = rng.choice(alphabets)
        cases.append(
            (
                "".join(rng.choice(alpha) for _ in range(rng.randint(200, 300))),
                "".join(rng.choice(alpha) for _ in range(rng.randint(200, 400))),
            )
        )
    cases += [("", ""), ("", "X"), ("A" * 250, "A" * 250), ("DC", "CD" * 101)]
    for a, b in cases:
        assert sim._partial_ratio_fast(a, b) == sim.partial_ratio_reference(a, b), (
            a,
            b,
        )


def test_jaro_winkler_known_values():
    assert abs(sim.jaro_winkler("MARTHA", "MARHTA") - 0.9611) < 1e-3
    assert sim.jaro_winkler("SAME", "SAME") == 1.0
    assert sim.jaro_winkler("", "ABC") == 0.0
    assert abs(sim.jaro_winkler("DIXON", "DICKSONX") - 0.8133) < 1e-3


def test_monge_elkan_symmetric():
    a = sim.monge_elkan_jw("JOHN WICK", "WICK JONATHAN")
    b = sim.monge_elkan_jw("WICK JONATHAN", "JOHN WICK")
    assert abs(a - b) < 1e-12
    assert sim.monge_elkan_jw("A B", "A B") == 1.0


def test_token_weakest_link():
    assert sim.token_weakest_link("J WICK", "JOHN WICK") == 1.0        # initial
    assert sim.token_weakest_link("WIN SCOTT", "WINSTON SCOTT") == 1.0  # prefix
    assert sim.token_weakest_link("P FITZGERALD", "Y FITZGERALD") == 0.0
    assert sim.token_weakest_link("JOHN DOE", "DOE JOHN") == 1.0        # swap
    weak = sim.token_weakest_link("MARIANNE MALDONADO", "MONIQUE MALDONADO")
    assert weak < 0.75


def test_core_ratio_strips_designators():
    out = sim.core_ratio_batch(["APPLE INC"], ["APPLE CORPORATION"])
    assert out[0] == 1.0  # both cores reduce to APPLE; denom = max raw len? no:
    # core strings are "APPLE"/"APPLE": lev=0 -> 1 - 0/denom = 1.0


def test_ngram_cosine_bounds():
    out = sim.ngram_cosine_batch(["JOHN WICK", "", "AB"], ["JOHN WICK", "X", "AB"])
    assert abs(out[0] - 1.0) < 1e-6
    assert out[1] == 0.0
    assert abs(out[2] - 1.0) < 1e-6
    assert all(0.0 <= v <= 1.0 for v in out)


def test_feature_matrix_contract():
    tfidf = TfidfModel.fit(["john wick", "jane doe"])
    X = build_features(["JOHN WICK", "JANE DOE"], ["JON WHICK", "JANE M DOE"], tfidf)
    assert X.shape == (2, len(FEATURE_COLS))
    cols = dict(zip(FEATURE_COLS, X.T))
    # Range invariants (reference test_predict_model.py:232-254).
    for name in ["jaccard_sim", "cosine_sim", "ratio", "sorted_token_ratio",
                 "token_set_ratio", "emb_distance", "jaro_winkler",
                 "monge_elkan_jw", "core_ratio", "token_weakest_link"]:
        assert all(0.0 <= v <= 1.0 for v in cols[name]), name
    assert all(0 <= v <= 100 for v in cols["partial_ratio"])
    assert all(v >= 0 for v in cols["len_diff"])


def test_empty_name_scores_zero_except_distances():
    """An empty name against a non-empty one scores 0 in every column but
    the two distances, in either argument order."""
    tfidf = TfidfModel.fit(["john smith", "jane doe"])
    X = build_features(["", "JOHN SMITH"], ["JOHN SMITH", ""], tfidf)
    distances = {"len_diff", "align_edit"}
    for row in X:
        cols = dict(zip(FEATURE_COLS, row))
        assert {c for c, v in cols.items() if v != 0.0} <= distances, cols
        assert all(cols[c] > 0 for c in distances), cols


def test_initial_conflict_cases():
    from name_matching_spark.functions.features import initial_conflict_batch

    cases = [
        # the measured 60/10k glue family: an initial that prefixes
        # NOTHING unexplained on the other side
        ("N QUENNEVILLE", "SENN QUENNEVILLE", 1),
        ("X SMITH", "JOHN SMITH", 1),
        ("N SMITH", "K SMITH", 2),
        ("N", "SENN QUENNEVILLE", 1),
        # compatible initial forms (reference positive space) stay 0
        ("N QUENNEVILLE", "NADIA QUENNEVILLE", 0),
        ("J SMITH", "JOHN SMITH", 0),
        ("J SMITH", "SMITH JOHN", 0),
        ("J SMITH", "J SMITH", 0),
        # split-token alias vs initial alias of the SAME entity: the
        # other side's initial consumes the leftover first name, the
        # split surname is near-match-consumed
        ("NADIA Q UENNEVILLE", "N QUENNEVILLE", 0),
        ("NADIA Q UENNEVILLE", "NADIA QUENNEVILLE", 0),
        # reference positive "D BARRIGA"~"BARRIGAS": the surname is
        # near-match-consumed, so D faces nothing
        ("D BARRIGA", "BARRIGAS", 0),
        # diminutive prefix + initial
        ("ADRI TENCA", "A TENCALLA", 0),
        # no initials anywhere -> always 0
        ("SENN QUENNEVILLE", "SENC QUENNEVILLE", 0),
        ("SMITH", "SMITH", 0),
        ("", "", 0),
        ("N QUENNEVILLE", "QUENNEVILLE", 0),
    ]
    got = initial_conflict_batch([a for a, _, _ in cases], [b for _, b, _ in cases])
    for (a, b, want), g in zip(cases, got):
        assert g == want, f"{a!r} ~ {b!r}: got {g}, want {want}"


def test_labeled_pairs_mismatched_initial_family():
    """Family (h): mismatched-initial negatives exist and never collide
    with family (g)'s compatible-initial positives."""
    from name_matching_spark.datagen import generate_labeled_pairs
    from name_matching_spark.functions.features import initial_conflict_batch

    df = generate_labeled_pairs(n_entities=80, seed=7)
    conf = initial_conflict_batch(df["NAME_X"].tolist(), df["NAME_Y"].tolist())
    neg_conflicted = ((df["label"] == 0) & (conf >= 1)).sum()
    assert neg_conflicted >= 20, "family (h) rows missing"
    # (g)'s initial-form positives must all stay conflict-free, or the
    # two families become inseparable and reference F1 pays for it
    pos_conflicted = df[(df["label"] == 1) & (conf >= 1)]
    assert len(pos_conflicted) == 0, pos_conflicted.head().to_dict("records")


def test_kind_initial_cases():
    from name_matching_spark.functions.features import kind_initial_batch

    cases = [
        # the measured conflicted region: an initial whose ONLY prefix
        # expansion on the other side is an org kind/designator word
        ("H PINNACLE", "HOTEL PINNACLE", 1),
        ("H PINNACLE", "PINNACLE HOTEL LTD", 1),
        ("B KELGRI", "KELGRI BANK CO", 1),
        ("HOTEL PINNACLE", "H PINNACLE", 1),  # symmetric
        # person initial expanding to a given name stays 0
        ("J SMITH", "JOHN SMITH", 0),
        ("J SMITH", "SMITH JOHN", 0),
        ("N QUENNEVILLE", "NADIA QUENNEVILLE", 0),
        # equal leading initials explain each other, kind word or not
        ("H PINNACLE", "H PINNACLE LTD", 0),
        # ambiguous: a non-kind token also satisfies the initial -> 0
        ("H SMITH", "HENRY SMITH HOTEL", 0),
        # trailing fragment letter is not a leading initial (reference
        # positive "HOTEL CONT L" ~ "HOTEL CONTINENTAL")
        ("HOTEL CONT L", "HOTEL CONTINENTAL", 0),
        # no satisfying token at all -> 0 (that is initial_conflict's job)
        ("H PINNACLE", "KELGRI BANK", 0),
        ("", "", 0),
    ]
    got = kind_initial_batch([a for a, _, _ in cases], [b for _, b, _ in cases])
    for (a, b, want), g in zip(cases, got):
        assert g == want, f"{a!r} ~ {b!r}: got {g}, want {want}"


def test_kind_initial_separates_family_a_from_initial_positives():
    """The kind-initial negative family (a) must flag, and family (g)'s
    person initial-form positives must all stay 0 — this separation is
    what lets the corpus-scale training copies coexist with the
    reference's 'John Smith' ~ 'J. Smith' semantic contract."""
    from name_matching_spark.datagen import generate_labeled_pairs
    from name_matching_spark.functions.features import kind_initial_batch

    df = generate_labeled_pairs(n_entities=80, seed=7)
    flag = kind_initial_batch(df["NAME_X"].tolist(), df["NAME_Y"].tolist())
    neg_flagged = ((df["label"] == 0) & (flag == 1)).sum()
    assert neg_flagged >= 20, "family (a) rows not flagged"
    pos_flagged = df[(df["label"] == 1) & (flag == 1)]
    assert len(pos_flagged) == 0, pos_flagged.head().to_dict("records")
