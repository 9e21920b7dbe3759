"""Measure the semantic-candidate channel at the 10k bench fixture.

Verdict r4 item 8: the sign-LSH embedding blocking (pipeline's optional
``embeddings=`` channel) was fixture-tested only — this script measures
zero-lexical-overlap alias recall at scale with synthetic embeddings.

Protocol
--------
* Take the 10k-entity bench fixture (the same one er_quality_at_scale.py
  uses).  Inject one extra conversation for every 50th entity whose name
  is a synthetic CODENAME (two 10-letter eid-seeded random tokens) with
  zero token overlap against every real alias of that entity — the shape
  string blocking can never recover (no shared tokens, phonetics, or
  shingles), and structurally divergent so codenames never string-match
  EACH OTHER (a shared template measured 796 codename-codename matches).
* Synthesize a deterministic embedding per distinct normalized name:
  unit(gauss(seed=entity) + 0.03 * gauss(seed=name)).  Same-entity names
  land at cosine ~0.999, cross-entity at ~N(0, 1/sqrt(32)) — a stand-in
  for a sentence encoder with perfect entity signal (an upper bound on
  what the channel can deliver; names shared by several entities get the
  min-entity vector, mirroring real encoder ambiguity).
* Run the pipeline twice on the augmented transcripts — with and without
  the embeddings table — and report:
    - injected-alias cluster recall: fraction of (injected conv,
      same-entity conv) pairs co-resolved;
    - overall pairwise precision/recall vs truth for both runs;
    - scored-pair coverage of the injected names (did the LSH channel
      even surface them to the scorer).

Results land in BENCH/QUALITY.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections import defaultdict

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from name_matching_spark.functions.normalize import preprocess_name  # noqa: E402

DIM = 32
INJECT_EVERY = 50


def _codename(eid: int) -> str:
    """Two 10-letter tokens drawn from an eid-seeded rng: structurally
    divergent codenames.  A shared template ("ZQ<code>V XW<code>J") looks
    typo-shaped to the string scorer — measured 796 codename-codename
    string matches gluing all 200 injections into one mega-web, which is
    a property of the probe, not the channel."""
    rng = np.random.default_rng(eid * 7_919 + 13)
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    t1 = "".join(letters[i] for i in rng.integers(0, 26, size=10))
    t2 = "".join(letters[i] for i in rng.integers(0, 26, size=10))
    return f"{t1} {t2}"


def _name_vec(eid: int, name: str) -> list[float]:
    base = np.random.default_rng(eid * 1_000_003 + 7).standard_normal(DIM)
    # stable per-name jitter (hash() is salted per-process; don't use it)
    nseed = int.from_bytes(name.encode()[:8].ljust(8, b"\0"), "big") % (2**32)
    noise = np.random.default_rng(nseed).standard_normal(DIM) * 0.03
    v = base + noise
    return (v / np.linalg.norm(v)).tolist()


def _pair_metrics(pred: dict[str, set], true: dict[str, set]) -> tuple[float, float]:
    def pair_set(cl):
        out = set()
        for members in cl.values():
            ms = sorted(members)
            out.update(
                (ms[i], ms[j]) for i in range(len(ms)) for j in range(i + 1, len(ms))
            )
        return out

    P, T = pair_set(pred), pair_set(true)
    tp = len(P & T)
    return tp / max(len(P), 1), tp / max(len(T), 1)


def main() -> None:
    from name_matching_spark.datagen import write_fixture
    from name_matching_spark.pipeline import EntityResolutionPipeline
    from name_matching_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    fixture = os.path.join(REPO, "data", f"bench_transcripts_e{n}")
    if not os.path.exists(os.path.join(fixture, "truth.parquet")):
        if os.path.exists(os.path.join(fixture, "transcripts.parquet")):
            raise SystemExit(f"{fixture} is partial; remove it before rerunning")
        print(f"generating {fixture} ...")
        write_fixture(fixture, n_entities=n, convs_per_entity=5, seed=42)

    transcripts = pd.read_parquet(os.path.join(fixture, "transcripts.parquet"))
    truth = pd.read_parquet(os.path.join(fixture, "truth.parquet"))

    # --- inject zero-lexical-overlap codename conversations -------------
    ent_aliases: dict[int, set] = defaultdict(set)
    for r in truth.itertuples():
        ent_aliases[r.entity_id].add(r.alias)
    inject_ids = sorted(ent_aliases)[::INJECT_EVERY]
    base_ts = pd.Timestamp("2026-02-01")
    t_rows, truth_rows, injected_convs = [], [], []
    for k, eid in enumerate(inject_ids):
        alias = _codename(eid)
        real_toks = {
            t for a in ent_aliases[eid] for t in preprocess_name(a).split()
        }
        assert not (set(preprocess_name(alias).split()) & real_toks), alias
        cid = f"sem{k:06d}"
        injected_convs.append(cid)
        t_rows.append(
            dict(conv_id=cid, turn_idx=np.int32(0), role="user",
                 text=f"I NEED HELP WITH A PAYMENT INVOLVING {alias}. OK",
                 tool="", ts=base_ts)
        )
        t_rows.append(
            dict(conv_id=cid, turn_idx=np.int32(1), role="tool",
                 text=f'lookup_customer(name="{alias}") -> status=OK',
                 tool="lookup_customer", ts=base_ts + pd.Timedelta(seconds=30))
        )
        truth_rows.append(dict(conv_id=cid, entity_id=eid, alias=alias))
    aug = pd.concat([transcripts, pd.DataFrame(t_rows)], ignore_index=True)
    aug["turn_idx"] = aug["turn_idx"].astype("int32")
    aug["ts"] = aug["ts"].astype("datetime64[us]")
    truth_aug = pd.concat([truth, pd.DataFrame(truth_rows)], ignore_index=True)

    # --- synthetic embeddings: one vector per distinct normalized name --
    name_ent: dict[str, int] = {}
    for r in truth_aug.itertuples():
        nm = preprocess_name(r.alias)
        name_ent[nm] = min(name_ent.get(nm, r.entity_id), r.entity_id)
    emb_rows = [(nm, _name_vec(eid, nm)) for nm, eid in sorted(name_ent.items())]
    print(f"{len(inject_ids)} injected entities, {len(emb_rows)} embedded names")

    spark = get_spark(app_name="semantic-recall")
    spark.sparkContext.setLogLevel("ERROR")
    sdf = spark.createDataFrame(
        aug, "conv_id string, turn_idx int, role string, text string, "
             "tool string, ts timestamp")
    emb = spark.createDataFrame(emb_rows, "name string, embedding array<double>")

    truth_by_conv = dict(zip(truth_aug["conv_id"], truth_aug["entity_id"]))
    ent_convs: dict[int, set] = defaultdict(set)
    for cid, eid in truth_by_conv.items():
        ent_convs[eid].add(cid)

    out: dict[str, dict] = {}
    for mode in ["with_channel", "strings_only"]:
        wh = f"/tmp/sem_recall_wh_{mode}_{n}"
        shutil.rmtree(wh, ignore_errors=True)
        t0 = time.time()
        pipe = EntityResolutionPipeline(spark, wh)
        stages = pipe.run(sdf, embeddings=emb if mode == "with_channel" else None)
        rows = stages["resolved_conversations"].select(
            "conv_id", "name_entity_key").collect()
        wall = time.time() - t0
        pred: dict[str, set] = defaultdict(set)
        conv_key = {}
        for r in rows:
            pred[r["name_entity_key"]].add(r["conv_id"])
            conv_key[r["conv_id"]] = r["name_entity_key"]
        true_cl: dict[int, set] = {e: set(cs) for e, cs in ent_convs.items()}
        prec, rec = _pair_metrics(pred, true_cl)
        # injected-alias recall: injected conv co-resolved with >=1
        # same-entity real conv
        hit = 0
        for cid in injected_convs:
            eid = truth_by_conv[cid]
            k = conv_key.get(cid)
            if k is None:
                continue
            mates = pred[k] & (ent_convs[eid] - {cid})
            if mates:
                hit += 1
        inj_recall = hit / max(len(injected_convs), 1)
        # did the scorer even SEE the injected names
        scored = spark.read.parquet(os.path.join(wh, "scored_pairs"))
        inj_names = [preprocess_name(_codename(e)) for e in inject_ids]
        seen = (
            scored.where(
                scored.name_x.isin(inj_names) | scored.name_y.isin(inj_names)
            ).count()
        )
        out[mode] = dict(
            injected_alias_recall=round(inj_recall, 4),
            injected_pairs_scored=int(seen),
            pairwise_precision=round(prec, 4),
            pairwise_recall=round(rec, 4),
            wall_s=round(wall, 1),
        )
        print(mode, json.dumps(out[mode]))
    print(json.dumps({"n_entities": n, "injected": len(injected_convs), **out}))
    spark.stop()


if __name__ == "__main__":
    main()
