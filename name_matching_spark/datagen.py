"""Deterministic synthetic transcripts fixture (seeded, offline).

Implements the FIXTURES.md recipe: K ground-truth entities (person +
organization names), M conversations per entity whose text embeds an alias
of the entity, 3-8 turns per conversation, plus a hidden
``truth(conv_id -> entity_id)`` table for cluster-agreement checks.

Alias families mirror the reference's observable generators
(generate_names.py / utils.py:96-129 in vietexob/name-matching — rule-based,
no LLM): identity, single-initial ("J Smith"), token swap ("Smith John"),
diminutive prefix ("Win Scott"), single-char typos at configurable
probability, punctuation variants, and org-designator swaps
("Company Limited" ~ "Co Ltd").

All randomness flows from one ``numpy`` Generator with a fixed seed: the
same arguments always produce byte-identical tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_FIRST = """
ALICIA MARIANNE MONIQUE JACINTA SENN GABRIELLE LOIC ROSA MARIA HERMANN
DUSTIN TERESA FRANK HELIODORO LAURIE LYNN JULIA PATRICIA ANNA MARA JOSE
CANDIDO ISABELLA CHARLOTTE WINSTON HELEN JONATHAN SEPP LUC LORENA LIA LEI
TSUBASA NADIA VICTOR EMILIO GRETA HANNES INGRID JEROME KLARA LORENZO
MATHILDE NIELS OKSANA PAVEL QUINN RENATA STEFAN TAMARA ULRICH VERONIKA
WENDEL XIMENA YANNICK ZOFIA ADRIAN BEATRIX CORNEL DELPHINE EDGAR FIONA
""".split()

_LAST = """
BOECHAT MALDONADO TROMMLER PERKINS HEIJMEN BOURDON MATIAS VIENNE BESENCON
WARREN PELLETIER NETO BOURQUARD MALLET PALTRINIERI BENDER SHAH HOU OKADA
WICK SCOTT SMITH JOHNSON RIVERA KOWALSKI LINDQVIST FERRARO NAKAMURA
OBRIEN DUBOIS VANDERBERG CASTELLANOS MORENO FITZGERALD ANTONESCU BERGSTROM
CHALUPA DVORAK ECKHART FALKENRATH GRIMALDI HOLMGREN IBARRA JAROSZ KREBS
LANDAU MERCIER NOVAK OSTERMANN PRZYBYLSKI QUENNEVILLE ROSSI SANTAMARIA
""".split()

_ORG_CORE = """
CONTINENTAL AGODA APEX BOREAL CASCADE DELTA EVEREST FOUNDRY GRANITE HARBOR
IRONWOOD JUNIPER KESTREL LUMEN MERIDIAN NIMBUS OBSIDIAN PINNACLE QUARTZ
REDWOOD SUMMIT TUNDRA UPLAND VERTEX WILLOW ZENITH ATLAS BEACON CITADEL
""".split()

_ORG_KIND = ["HOTEL", "BANK", "TRADING", "LOGISTICS", "CAPITAL", "SYSTEMS", "PARTNERS"]
_ORG_SUFFIX_FAMILIES = [
    ["COMPANY LIMITED", "CO LTD", "CO., LTD", "LTD"],
    ["INCORPORATED", "INC", "INC."],
    ["CORPORATION", "CORP", "CORP."],
    ["HOLDINGS", "HOLDING"],
    [""],
]

_CHATTER = [
    "PLEASE CONFIRM THE TRANSFER DETAILS",
    "THE PAYMENT WAS PROCESSED ON 02/01 YEAR 1989.",
    "CHECKING ACCOUNT BALANCE NOW",
    "CAN YOU VERIFY THE REFERENCE NUMBER 4471?",
    "THANKS, THAT RESOLVES MY QUESTION",
    "I WILL ESCALATE THIS TO THE COMPLIANCE TEAM",
    "THE COUNTERPARTY DETAILS LOOK CORRECT",
    "LET ME PULL UP THE TRANSACTION HISTORY",
    "ONE MOMENT WHILE I RUN THE LOOKUP",
    "IS THERE ANYTHING ELSE I CAN HELP WITH?",
]

_TOOLS = ["lookup_customer", "verify_entity", "screen_party"]


def _typo(rng: np.random.Generator, name: str, prob_flip: float = 0.3) -> str:
    """Single-char substitution per token with prob_flip (the reference's
    generate_typo_name semantics, utils.py:96-129)."""
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ "
    out = []
    for token in name.split():
        if rng.random() <= prob_flip and len(token) > 0:
            idx = int(rng.integers(0, len(token)))
            token = token[:idx] + letters[int(rng.integers(0, len(letters)))] + token[idx + 1 :]
        out.append(token)
    return " ".join(out)


def _person_aliases(rng: np.random.Generator, first: str, last: str) -> list[str]:
    full = f"{first} {last}"
    aliases = [
        full,
        f"{first[0]}. {last}",               # initial
        f"{last} {first}",                   # token swap
        f"{first[: max(3, len(first) // 2)]} {last}",  # diminutive prefix
        _typo(rng, full),                     # typo
        f"{first}, {last}",                  # punctuation variant
        # token merge / split (apostrophe-collapse family: O'Brien ->
        # "O BRIEN" vs "OBRIEN"): same surface name, different tokenization
        f"{first}{last}" if rng.random() < 0.5 else f"{first} {last[0]} {last[1:]}",
    ]
    return aliases


def _org_aliases(rng: np.random.Generator, core: str, kind: str) -> list[str]:
    fam = _ORG_SUFFIX_FAMILIES[int(rng.integers(0, len(_ORG_SUFFIX_FAMILIES)))]
    base = f"{core} {kind}"
    aliases = [f"{base} {suf}".strip() for suf in fam[:3]]
    aliases.append(f"{kind} {core}")          # token swap (HOTEL CONTINENTAL)
    aliases.append(_typo(rng, base))
    return aliases


def generate_entities(n_entities: int = 200, seed: int = 42) -> pd.DataFrame:
    """(entity_id, full_name, ent_type, aliases:list[str]).  Shared last
    names across entities are deliberate: they create the hard-negative
    blocks the scorer must reject."""
    rng = np.random.default_rng(seed)
    rows = []
    n_pers = int(n_entities * 0.7)
    syllables = ["BAR", "KEL", "MON", "TAR", "VIN", "SOR", "LAN", "DRE", "FOS", "GRI",
                 "HAL", "JUR", "KAS", "LOM", "NER", "PIK", "QUI", "RAV", "STE", "TUL"]
    # Past ~100k entities the fixed pools saturate the name space — at
    # 300k even the UNBEATABLE identical-name-only clustering measured
    # pair precision 0.277 (vs 0.939 at 100k), i.e. the truth table goes
    # unsatisfiable and any quality number is fixture noise, not signal.
    # Scale the entropy with n (gated, so every fixture <= 100k
    # regenerates byte-identically): double the syllable pool, allow
    # 4-syllable tails, grow the SHARED-surname pool sub-linearly (the
    # hard-negative families must persist without exhausting FIRSTxLAST),
    # and shrink the fixed-org-core branch to what 29x7 combos can hold.
    big = n_entities > 100_000
    if big:
        syllables = syllables + [
            "ZAN", "BEL", "COR", "DUN", "ERL", "FIM", "GOT", "HUS", "IVR",
            "JAK", "KOB", "LUV", "MEX", "NOL", "OPR", "PEL", "RIN", "SAV",
            "TOR", "ULM",
        ]
    syl_hi = 5 if big else 4  # rng.integers upper bound (exclusive)
    shared_last = list(_LAST)
    if big:
        # deterministic synthesized shared surnames: n/100 two-syllable
        # combos in fixed enumeration order
        need = max(0, n_entities // 100 - len(shared_last))
        combos = (
            a + b for a in syllables for b in syllables if a != b
        )
        shared_last += [next(combos) for _ in range(min(need, 1500))]
    n_orgs = max(1, n_entities - n_pers)
    p_fixed_core = min(0.5, 400.0 / n_orgs) if big else 0.5
    used: set[str] = set()
    for e in range(n_entities):
        # Entity full names are unique by construction (re-draw on clash):
        # two entities with the SAME surface form would make the truth table
        # unsatisfiable for any resolver.
        for _ in range(100):
            if e < n_pers:
                first = _FIRST[int(rng.integers(0, len(_FIRST)))]
                if rng.random() < 0.2:
                    # Deliberate hard-negative families: shared surnames.
                    last = shared_last[int(rng.integers(0, len(shared_last)))]
                else:
                    # Realistic long tail: synthesized surnames.
                    last = "".join(
                        syllables[int(rng.integers(0, len(syllables)))]
                        for _ in range(int(rng.integers(2, syl_hi)))
                    )
                full, ent_type = f"{first} {last}", "PERS"
            else:
                if rng.random() < p_fixed_core:
                    core = _ORG_CORE[int(rng.integers(0, len(_ORG_CORE)))]
                else:
                    # Synthesized cores keep the org namespace collision-free
                    # at large entity counts (the fixed pool is 29x7 combos).
                    core = "".join(
                        syllables[int(rng.integers(0, len(syllables)))]
                        for _ in range(int(rng.integers(2, syl_hi)))
                    )
                kind = _ORG_KIND[int(rng.integers(0, len(_ORG_KIND)))]
                full, ent_type = f"{core} {kind}", "ORGA"
            if full not in used:
                break
        used.add(full)
        if ent_type == "PERS":
            aliases = _person_aliases(rng, first, last)
        else:
            aliases = _org_aliases(rng, core, kind)
        rows.append({"entity_id": e, "full_name": full, "ent_type": ent_type, "aliases": aliases})
    return pd.DataFrame(rows)


def generate_transcripts(
    n_entities: int = 200,
    convs_per_entity: int = 5,
    seed: int = 42,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (transcripts, truth).

    transcripts: (conv_id, turn_idx, role, text, tool, ts) — one row per turn.
    truth:       (conv_id, entity_id, alias) — hidden ground truth.
    """
    rng = np.random.default_rng(seed)
    entities = generate_entities(n_entities, seed)
    t_rows, truth_rows = [], []
    base_ts = np.datetime64("2026-01-01T00:00:00")
    conv_no = 0
    for ent in entities.itertuples():
        for _ in range(convs_per_entity):
            conv_id = f"c{conv_no:08d}"
            conv_no += 1
            alias = ent.aliases[int(rng.integers(0, len(ent.aliases)))]
            n_turns = int(rng.integers(3, 9))
            tool_turn = int(rng.integers(1, n_turns))
            ts = base_ts + np.timedelta64(int(rng.integers(0, 10_000_000)), "s")
            for turn in range(n_turns):
                if turn == tool_turn:
                    role, tool = "tool", _TOOLS[int(rng.integers(0, len(_TOOLS)))]
                    text = f'{tool}(name="{alias}") -> status=OK'
                else:
                    role = "user" if turn % 2 == 0 else "assistant"
                    tool = ""
                    text = _CHATTER[int(rng.integers(0, len(_CHATTER)))]
                    if turn == 0:
                        text = f"I NEED HELP WITH A PAYMENT INVOLVING {alias}. " + text
                t_rows.append(
                    {
                        "conv_id": conv_id,
                        "turn_idx": np.int32(turn),
                        "role": role,
                        "text": text,
                        "tool": tool,
                        "ts": ts + np.timedelta64(turn * 30, "s"),
                    }
                )
            truth_rows.append({"conv_id": conv_id, "entity_id": ent.entity_id, "alias": alias})
    transcripts = pd.DataFrame(t_rows)
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    # Microsecond precision: Spark cannot read parquet TIMESTAMP(NANOS).
    transcripts["ts"] = transcripts["ts"].astype("datetime64[us]")
    return transcripts, pd.DataFrame(truth_rows)


def generate_labeled_pairs(
    n_entities: int = 600,
    seed: int = 7,
) -> pd.DataFrame:
    """Synthetic labeled pairs from the same alias grammar as the fixture
    (different seed!): positives = alias pairs of one entity; negatives =
    the hard confusable families string-only matching must reject:

    * PERS same-last / same-first with a different other token;
    * cross-entity token swaps ("A B" vs "B C");
    * ORGA same kind+designator with a different core (and vice versa).

    Used as *training augmentation* — the reference's labeled CSVs remain
    the F1 gate; these teach the booster the negative space the reference
    corpus never covered (its negatives are persons only,
    make_dataset.py:195-249).
    """
    rng = np.random.default_rng(seed)
    ents = generate_entities(n_entities, seed=seed + 1)
    rows = []
    ents_list = list(ents.itertuples())
    # Positives: all alias pairs per entity (cap 6 per entity).
    for ent in ents_list:
        al = list(dict.fromkeys(ent.aliases))
        cnt = 0
        for i in range(len(al)):
            for j in range(i + 1, len(al)):
                rows.append({"NAME_X": al[i], "NAME_Y": al[j], "label": 1})
                cnt += 1
                if cnt >= 6:
                    break
            if cnt >= 6:
                break
    # Apostrophe-contraction org positives ("CONT'L" -> "CONT L" after
    # punctuation normalization: truncated prefix + final-letter token —
    # the reference's own resolved output clusters "HOTEL CONT L" with
    # "HOTEL CONTINENTAL", data/golden_resolved_txns.csv).  Emitted as
    # TRAINING pairs only (the fixture alias grammar is unchanged) so the
    # confusable-negative families cannot push this real positive shape
    # under the decision threshold.
    for ent in ents_list:
        if ent.ent_type != "ORGA":
            continue
        core, kind = ent.full_name.rsplit(" ", 1)
        if len(core) < 6:
            continue
        abbr = f"{core[:4]} {core[-1]}"
        rows.append({"NAME_X": f"{kind} {abbr}", "NAME_Y": f"{kind} {core}", "label": 1})
        rows.append({"NAME_X": f"{abbr} {kind}", "NAME_Y": f"{core} {kind}", "label": 1})
        rows.append({"NAME_X": f"{kind} {abbr}", "NAME_Y": f"{core} {kind}", "label": 1})
    # Negatives: confusable cross-entity pairs.
    by_last: dict[str, list] = {}
    by_first: dict[str, list] = {}
    for ent in ents_list:
        toks = ent.full_name.split()
        by_first.setdefault(toks[0], []).append(ent)
        by_last.setdefault(toks[-1], []).append(ent)
    for groups in (by_last, by_first):
        for _, members in groups.items():
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    a, b = members[i], members[j]
                    if a.full_name == b.full_name:
                        continue
                    rows.append({"NAME_X": a.full_name, "NAME_Y": b.full_name, "label": 0})
                    # swap variant of the confusable
                    bt = b.full_name.split()
                    rows.append(
                        {"NAME_X": a.full_name, "NAME_Y": " ".join(reversed(bt)), "label": 0}
                    )
                    # alias-vs-alias confusable
                    rows.append(
                        {
                            "NAME_X": a.aliases[int(rng.integers(0, len(a.aliases)))],
                            "NAME_Y": b.aliases[int(rng.integers(0, len(b.aliases)))],
                            "label": 0,
                        }
                    )
    # ORGA same kind + SAME designator suffix, different core — the region
    # the shared-token groupings above under-cover: their org pairs mix
    # short / cross-family designator forms, so "X HOTEL CO LTD" vs
    # "Y HOTEL CO LTD" (3 of 4 tokens shared) was unseen and the booster
    # extrapolated it to ~0.99 at resolution scale (measured on the
    # 10k-entity fixture as a primary mega-merge driver).  Also emit the
    # syllable-inserted near-miss core at the same designator: a multi-char
    # core insertion is a DIFFERENT entity (char-level typos are the
    # positive space; syllable grafts are not).
    _syll = ["BAR", "KEL", "MON", "TAR", "VIN", "SOR", "LAN", "DRE", "FOS", "GRI"]
    by_kind: dict[str, list] = {}
    for ent in ents_list:
        if ent.ent_type == "ORGA":
            by_kind.setdefault(ent.full_name.split()[-1], []).append(ent)
    # Cap the quadratic matched-designator pairs per kind group so
    # labeled-pair volume stays linear in entity count (the cap is far above
    # anything the default ~200-entity training scale produces, so the rng
    # sequence — and therefore the committed model artifacts — are unchanged
    # there; it only binds if the generator is reused for large corpora).
    _kind_pair_cap = 500
    for kind, members in by_kind.items():
        emitted = 0
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                if emitted >= _kind_pair_cap:
                    break
                emitted += 1
                a_core = members[i].full_name.rsplit(" ", 1)[0]
                b_core = members[j].full_name.rsplit(" ", 1)[0]
                # non-empty designator families only: the bare "X HOTEL" vs
                # "Y HOTEL" form is already covered by the groupings above
                fam = _ORG_SUFFIX_FAMILIES[
                    int(rng.integers(0, len(_ORG_SUFFIX_FAMILIES) - 1))
                ]
                suf = fam[int(rng.integers(0, len(fam)))]
                rows.append(
                    {
                        "NAME_X": f"{a_core} {kind} {suf}".strip(),
                        "NAME_Y": f"{b_core} {kind} {suf}".strip(),
                        "label": 0,
                    }
                )
            # near-miss core: one syllable inserted, same kind + designator
            a_core = members[i].full_name.rsplit(" ", 1)[0]
            syl = _syll[int(rng.integers(0, len(_syll)))]
            k = int(rng.integers(0, len(a_core) + 1))
            mut = a_core[:k] + syl + a_core[k:]
            fam = _ORG_SUFFIX_FAMILIES[
                int(rng.integers(0, len(_ORG_SUFFIX_FAMILIES) - 1))
            ]
            suf = fam[int(rng.integers(0, len(fam)))]
            rows.append(
                {
                    "NAME_X": f"{a_core} {kind} {suf}".strip(),
                    "NAME_Y": f"{mut} {kind} {suf}".strip(),
                    "label": 0,
                }
            )
    # Random non-confusable negatives for balance.
    for _ in range(len(ents_list) * 4):
        a = ents_list[int(rng.integers(0, len(ents_list)))]
        b = ents_list[int(rng.integers(0, len(ents_list)))]
        if a.full_name != b.full_name:
            rows.append({"NAME_X": a.full_name, "NAME_Y": b.full_name, "label": 0})
    # The dominant FALSE-POSITIVE edge families measured at the 10k-entity
    # resolution scale once blocking recall recovered to ~0.97
    # (BENCH/QUALITY.md — each scored 0.999+ pre-fix):
    #
    # (a) kind-initial vs org: "H KELGRI" (a PERSON-initial surface form)
    #     against "KELGRI HOTEL ..." — the single-letter token matches the
    #     org DESIGNATOR only as an initial; org aliases never take
    #     initial forms, so the pair is cross-type and always a negative.
    for ent in ents_list:
        if ent.ent_type != "ORGA":
            continue
        core, kind = ent.full_name.rsplit(" ", 1)
        fam = _ORG_SUFFIX_FAMILIES[int(rng.integers(0, len(_ORG_SUFFIX_FAMILIES)))]
        suf = fam[int(rng.integers(0, len(fam)))]
        rows.append(
            {
                "NAME_X": f"{kind[0]} {core}",
                "NAME_Y": f"{core} {kind} {suf}".strip(),
                "label": 0,
            }
        )
        rows.append({"NAME_X": f"{kind[0]} {core}", "NAME_Y": f"{kind} {core}", "label": 0})
    # (b) exact-first + GRAFTED surname: "HELIODORO KASDRE" vs
    #     "HELIODORO KASDREMON" — the surnames differ by an appended
    #     syllable (different entity under the syllable-pool grammar).
    #     Deliberately NARROW: the first name is kept EXACT and the
    #     diminutive/initial variants are NOT emitted, because the
    #     reference's positive space contains the mirror shapes
    #     ("ADRI TENCA"~"ADRIANA TENCALLA", "D BARRIGA"~"BARRIGAS") and
    #     training on them cost 1.2 points of reference F1 (measured).
    # (c) merged-form near-miss: "HELIODOROKELDRE" vs "HELIODOROKELGRI" —
    #     token-merge aliases of different entities sharing the first
    #     name.  Only LONG merged forms (>= 12 chars) are emitted: short
    #     single-token pairs with a small tail edit are the reference's
    #     typo-positive space ("MEYER"~"MEYEN").
    _graft = ["BAR", "KEL", "MON", "TAR", "VIN", "SOR", "LAN", "DRE", "FOS", "GRI"]
    for ent in ents_list:
        if ent.ent_type != "PERS":
            continue
        toks = ent.full_name.split()
        if len(toks) != 2:
            continue
        first, last = toks
        syl = _graft[int(rng.integers(0, len(_graft)))]
        grafted = last + syl
        rows.append(
            {"NAME_X": f"{first} {last}", "NAME_Y": f"{first} {grafted}", "label": 0}
        )
        if len(first) + len(last) >= 12:
            rows.append(
                {"NAME_X": f"{first}{last}", "NAME_Y": f"{first}{grafted}", "label": 0}
            )
            # substituted-syllable merged variant (KELDRE vs KELGRI class)
            if len(last) > 3:
                sub = last[:-3] + _graft[int(rng.integers(0, len(_graft)))]
                if sub != last:
                    rows.append(
                        {"NAME_X": f"{first}{last}", "NAME_Y": f"{first}{sub}", "label": 0}
                    )
    # (d) SUBSTITUTED-syllable cores (the PIKKASMON ~ PIKRAVMON web class,
    #     measured as the dominant residual FP family once (a)-(c) landed):
    #     replace one 3-char syllable block of a synthesized core/surname
    #     with another, SAME remaining tokens.  Guarded to the non-typo
    #     region: the substituted block must differ from the original by
    #     >= 2 char edits, because a 1-edit substitution is byte-identical
    #     to the reference's typo-positive space ("MEYER" ~ "MEYEN").
    def _sub_block(token: str) -> str | None:
        if len(token) < 6 or len(token) % 3 != 0:
            return None
        k = int(rng.integers(0, len(token) // 3))
        old = token[k * 3 : k * 3 + 3]
        new = _graft[int(rng.integers(0, len(_graft)))]
        if sum(a != b for a, b in zip(old, new)) < 2:
            return None
        return token[: k * 3] + new + token[k * 3 + 3 :]

    for ent in ents_list:
        toks = ent.full_name.split()
        if ent.ent_type == "ORGA":
            core, kind = ent.full_name.rsplit(" ", 1)
            mut = _sub_block(core)
            if mut is None:
                continue
            rows.append({"NAME_X": f"{core} {kind}", "NAME_Y": f"{mut} {kind}", "label": 0})
            # cross-form designators on the two sides (the observed FP webs
            # mix "CORP" / "CO LTD" / bare forms freely)
            fam_a = _ORG_SUFFIX_FAMILIES[int(rng.integers(0, len(_ORG_SUFFIX_FAMILIES)))]
            fam_b = _ORG_SUFFIX_FAMILIES[int(rng.integers(0, len(_ORG_SUFFIX_FAMILIES)))]
            suf_a = fam_a[int(rng.integers(0, len(fam_a)))]
            suf_b = fam_b[int(rng.integers(0, len(fam_b)))]
            rows.append(
                {
                    "NAME_X": f"{core} {kind} {suf_a}".strip(),
                    "NAME_Y": f"{mut} {kind} {suf_b}".strip(),
                    "label": 0,
                }
            )
        elif len(toks) == 2:
            first, last = toks
            mut = _sub_block(last)
            if mut is None:
                continue
            rows.append({"NAME_X": f"{first} {last}", "NAME_Y": f"{first} {mut}", "label": 0})
    # (e) shared-first-syllable DIVERGENT surnames/cores (the MARIA KASTAR
    #     ~ MARIANNE KASLANDRE web class — the dominant residual FP family
    #     once (d) landed): two entities whose surname/core shares the
    #     leading syllable then diverges.  Guarded away from the
    #     reference's positive space ("ADRI TENCA" ~ "ADRIANA TENCALLA":
    #     suffix-GROWN surname) by requiring that neither token is a
    #     prefix of the other AND the divergence exceeds the one-char typo
    #     allowance (token excess >= 2).  First names may be exact or
    #     diminutive/prefix variants — exactly the surface forms that glue
    #     the measured webs.
    def _divergent(a: str, b: str) -> bool:
        if a == b or a.startswith(b) or b.startswith(a):
            return False
        # lev >= abs length difference, so >= 3 there is conclusive;
        # otherwise the exact distance decides (>= 3 means token excess
        # >= 2, past the one-char typo allowance).
        if abs(len(a) - len(b)) >= 3:
            return True
        from name_matching_spark.functions.similarity import levenshtein

        return levenshtein(a, b) >= 3

    by_lead: dict[tuple[str, str], list] = {}
    for ent in ents_list:
        toks = ent.full_name.split()
        if ent.ent_type == "PERS" and len(toks) == 2:
            by_lead.setdefault(("P", toks[1][:3]), []).append(ent)
        elif ent.ent_type == "ORGA":
            by_lead.setdefault(("O", toks[0][:3]), []).append(ent)
    _lead_pair_cap = 300
    for (side, _), members in sorted(by_lead.items()):
        emitted = 0
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                if emitted >= _lead_pair_cap:
                    break
                a, b = members[i], members[j]
                at, bt = a.full_name.split(), b.full_name.split()
                if side == "P":
                    la, lb = at[1], bt[1]
                else:
                    la, lb = at[0], bt[0]
                if not _divergent(la, lb):
                    continue
                emitted += 1
                rows.append(
                    {"NAME_X": a.full_name, "NAME_Y": b.full_name, "label": 0}
                )
                if side == "P":
                    # diminutive-first variant on one side (MARI KASTAR ~
                    # MARIA KASLANDRE) — prefix-compatible firsts are what
                    # chain the webs
                    fa = at[0]
                    dim = fa[: max(3, len(fa) // 2)]
                    rows.append(
                        {"NAME_X": f"{dim} {la}", "NAME_Y": b.full_name, "label": 0}
                    )
                else:
                    # bare-kind + designator cross-forms on the org side
                    fam = _ORG_SUFFIX_FAMILIES[
                        int(rng.integers(0, len(_ORG_SUFFIX_FAMILIES)))
                    ]
                    suf = fam[int(rng.integers(0, len(fam)))]
                    rows.append(
                        {
                            "NAME_X": a.full_name,
                            "NAME_Y": f"{b.full_name} {suf}".strip(),
                            "label": 0,
                        }
                    )
    # (f) diacritic-transliteration POSITIVES ("FRANÇOIS MÜLLER" ~
    #     "FRANCOIS MUELLER" — pinned by the reference's predict-time
    #     semantics, test_predict_model.py:64-180).  Normalization
    #     preserves diacritics (P1 byte-parity with the reference), so an
    #     accented form can share ZERO tokens with its transliteration
    #     while every per-token relation is a 1-2 char accent fold.  The
    #     IDF-evidence features see no shared token on such pairs, so
    #     without explicit coverage the booster pushes them under the
    #     threshold (measured: 0.67 on the François pair after the
    #     feature extension).  Emitted deterministically, consuming NO
    #     rng draws, so every family above is byte-identical.
    _translit = {"A": ("Ä", "AE"), "O": ("Ö", "OE"), "U": ("Ü", "UE"),
                 "E": ("É", "E"), "C": ("Ç", "C"), "N": ("Ñ", "N")}

    def _accent_fold(name: str) -> tuple[str, str] | None:
        acc_toks, fold_toks = [], []
        changed = False
        for tok in name.split():
            a_tok = f_tok = tok
            for i, ch in enumerate(tok):
                if i == 0:
                    continue  # keep leading chars stable (initials/blocking)
                m = _translit.get(ch)
                if m:
                    a_tok = tok[:i] + m[0] + tok[i + 1:]
                    f_tok = tok[:i] + m[1] + tok[i + 1:]
                    changed = True
                    break
            acc_toks.append(a_tok)
            fold_toks.append(f_tok)
        if not changed:
            return None
        return " ".join(acc_toks), " ".join(fold_toks)

    for ent in ents_list:
        pair = _accent_fold(ent.full_name)
        if pair is None:
            continue
        acc, fold = pair
        # accented vs digraph transliteration (the zero-shared-token form)
        rows.append({"NAME_X": acc, "NAME_Y": fold, "label": 1})
        # accented vs plain fold
        rows.append({"NAME_X": acc, "NAME_Y": ent.full_name, "label": 1})
    # (g) explicit initial-form PERSON positives ("JOHN SMITH" ~ "J SMITH"):
    #     reference pair semantics keep initial forms as pair-level MATCHES
    #     (cluster-time subsumption routing handles their ambiguity).  The
    #     alias grammar emits these shapes but the per-entity positive cap
    #     leaves the region thin; after the IDF-evidence feature extension
    #     one canonical instance sat at 0.79.  Deterministic, rng-free.
    for ent in ents_list:
        if ent.ent_type != "PERS":
            continue
        toks = ent.full_name.split()
        if len(toks) != 2 or len(toks[0]) < 2:
            continue
        rows.append(
            {"NAME_X": ent.full_name, "NAME_Y": f"{toks[0][0]} {toks[1]}", "label": 1}
        )
    # (h) MISMATCHED-initial PERS negatives ("X SMITH" vs "JOHN SMITH"
    #     with X != J): the glue family family (g) opened — an initial
    #     form shares only the rare surname, so shared_max_idf lifts it
    #     toward every same-surname entity, not just its own.  Paired
    #     with the initial_conflict feature (features.py), which is what
    #     makes these separable from (g)'s positives; without the feature
    #     this family would sit on (g)'s vectors and cost reference F1
    #     (the measured family-(b) lesson).  Deterministic, rng-free:
    #     the wrong letter is a fixed +7 rotation of the true initial.
    for ent in ents_list:
        if ent.ent_type != "PERS":
            continue
        toks = ent.full_name.split()
        if len(toks) != 2 or len(toks[0]) < 2:
            continue
        wrong = chr((ord(toks[0][0]) - 65 + 7) % 26 + 65)
        rows.append(
            {"NAME_X": f"{wrong} {toks[1]}", "NAME_Y": ent.full_name, "label": 0}
        )
        # initial-vs-initial mismatch under the same surname
        rows.append(
            {
                "NAME_X": f"{wrong} {toks[1]}",
                "NAME_Y": f"{toks[0][0]} {toks[1]}",
                "label": 0,
            }
        )
    df = pd.DataFrame(rows).drop_duplicates(subset=["NAME_X", "NAME_Y"])
    return df.reset_index(drop=True)


def write_fixture(
    out_dir: str,
    n_entities: int = 200,
    convs_per_entity: int = 5,
    seed: int = 42,
) -> None:
    """Write transcripts.parquet + truth.parquet under ``out_dir``."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    transcripts, truth = generate_transcripts(n_entities, convs_per_entity, seed)
    transcripts.to_parquet(os.path.join(out_dir, "transcripts.parquet"), index=False)
    truth.to_parquet(os.path.join(out_dir, "truth.parquet"), index=False)


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else "data/transcripts_small"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    m = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    write_fixture(out, n, m)
    print(f"wrote {out} (entities={n}, convs/entity={m})")
