"""The two workloads: inputs, program-side set-up, the timed call, its
output check, and the per-layer numbers of a traced call.

Each workload times calls into the program's public functions from the
outside.  ``setup`` returns the program-side seconds it spent (input
generation excluded); ``op`` returns ``(seconds, payload)`` for one timed
call; ``check`` turns a payload into ``(ok, items, detail)``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import inputs

# Floors below which a run is incorrect, under what the seed code reads:
ER_F1_FLOOR = 0.7  # 0.97-0.99 at 200 entities
ASSIGN_ACCURACY_FLOOR = 0.75  # 0.92-0.96
KERNEL_SAMPLE = 10_000


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    scale: float
    cores: int
    tracer: object = None  # perfbench.trace.Tracer in a traced run
    seen: dict = field(default_factory=dict)  # frames the traced calls saw


def _scaled(n: int, scale: float, floor: int) -> int:
    return max(floor, int(round(n * scale)))


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def median(xs):
    return float(np.median(xs)) if len(xs) else 0.0


def kernel_seconds_per_10k(xs, ys, model_json: str, tfidf_json: str) -> tuple[float, float]:
    """Single-threaded in-process timing of the scorer's two kernels on a
    sample: (build_features, predict_margin) seconds per 10k pairs."""
    from name_matching_spark.functions.features import build_features
    from name_matching_spark.functions.tfidf import TfidfModel
    from name_matching_spark.model.gbm import GBMClassifier

    model = GBMClassifier.from_json(model_json)
    tfidf = TfidfModel.from_json(tfidf_json)
    model.predict_margin(build_features(xs[:100], ys[:100], tfidf))  # warm
    t_build, X = timed(lambda: build_features(xs, ys, tfidf))
    t_margin, _ = timed(lambda: model.predict_margin(X))
    per = KERNEL_SAMPLE / len(xs)
    return t_build * per, t_margin * per


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name: str
    op_span: str  # span name of a traced call
    items_name: str  # what ``items`` counts
    quality_floor: float  # the run is incorrect below it

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def release(self, payload) -> None:
        """Drop what a checked call left behind."""

    def close(self) -> None:
        """Drop what set-up left behind."""

    def report(self, p50_ms, tail_ms, tail_note, quality) -> list[str]:
        """Report lines naming the end-to-end metrics as this workload
        calls them, with units."""
        raise NotImplementedError


class BatchEr(Workload):
    """One ``run_pipeline`` into a fresh warehouse per timed call."""

    name = "batch_er"
    op_span = "pipeline.run"
    quality_floor = ER_F1_FLOOR
    items_name = "conversations"
    # after one lap the first timed call still ran 10-25% slower than the
    # second, and a run holds only two calls
    warmup_laps = 2

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.n_entities = _scaled(200, ctx.scale, 8)

    def prepare(self) -> None:
        c = self.ctx
        self.fixture = inputs.transcript_fixture(c.work, "fixture", self.n_entities, c.seed)
        # full size: a smaller warm-up left the first timed calls ~15% slower
        self.warm_fixture = inputs.transcript_fixture(
            c.work, "warmup", self.n_entities, c.seed + inputs.WARMUP_SEED
        )
        self.truth = pd.read_parquet(os.path.join(self.fixture, "truth.parquet"))

    def _run(self, fixture: str):
        from name_matching_spark.pipeline import run_pipeline

        wh = tempfile.mkdtemp(prefix="wh_", dir=self.ctx.work)
        secs, stages = timed(
            lambda: run_pipeline(
                self.ctx.spark, os.path.join(fixture, "transcripts.parquet"), wh
            )
        )
        return secs, (wh, stages)

    def setup(self) -> float:
        total = 0.0
        for _ in range(self.warmup_laps):  # untimed warm-up laps
            secs, (wh, _) = self._run(self.warm_fixture)
            shutil.rmtree(wh)
            total += secs
        return total

    def op(self, i: int):
        return self._run(self.fixture)

    def check(self, payload):
        # imported here, after the session started: the module sets a
        # default driver memory for its own sessions when it is imported
        from scripts.er_quality_at_scale import pair_f1

        wh, stages = payload
        resolved = stages["resolved_conversations"]
        f1 = pair_f1(
            self.ctx.spark, resolved, os.path.join(self.fixture, "truth.parquet")
        )["pair_f1"]
        resolved = resolved.selectExpr("conv_id", "name_entity_key AS entity_key").toPandas()
        ok = (
            f1 >= ER_F1_FLOOR
            and set(resolved["conv_id"]) == set(self.truth["conv_id"])
            and bool(resolved["entity_key"].notna().all())
        )
        return ok, len(resolved), f1

    def release(self, payload) -> None:
        shutil.rmtree(payload[0], ignore_errors=True)

    def report(self, p50_ms, tail_ms, tail_note, quality) -> list[str]:
        return [
            f"metric er_wall_s = {p50_ms / 1000:.4f} s (median)",
            f"metric er_pair_f1 = {quality:.4f} ratio",
        ]

    def layers(self, tracer, op_spans, payloads) -> dict:
        """Per-layer numbers of the (single) traced pipeline run."""
        from pyspark.sql import functions as F

        from name_matching_spark.io.checkpoint import CheckpointManager
        from name_matching_spark.model.train import load_artifacts

        span = op_spans[-1]
        wh, stages = payloads[-1]
        keys = self.ctx.seen["keys"][-1]
        ckpt = CheckpointManager(self.ctx.spark, wh)
        # each stage and layer call happens once per pipeline run
        below = {s["name"]: s for s in tracer.subtree(span)}
        stage_spans = [s for name, s in below.items() if name.startswith("stage:")]

        def dur(name):
            s = below.get(name)
            return s["end"] - s["start"] if s else 0.0

        scored = stages["scored_pairs"]
        n_scored = ckpt.stored_rows("scored_pairs") or 0
        n_cands = ckpt.stored_rows("candidate_pairs") or 0
        matches = scored.where(F.col("prediction") == 1).count()
        comp_sizes = (
            stages["components"].groupBy("component").count().toPandas()["count"]
        )

        # blocking recall against truth: true same-entity name pairs
        # present among the candidates
        conv = stages["conversations"].select("conv_id", "name").toPandas()
        named = conv.dropna().merge(self.truth[["conv_id", "entity_id"]], on="conv_id")
        true_pairs = set()
        for names in named.groupby("entity_id")["name"].agg(lambda s: sorted(set(s))):
            true_pairs.update(
                (a, b) for k, a in enumerate(names) for b in names[k + 1 :]
            )
        cands = stages["candidate_pairs"].toPandas()
        cand_set = set(zip(cands["name_x"], cands["name_y"]))
        truth_recall = (
            len(true_pairs & cand_set) / len(true_pairs) if true_pairs else 1.0
        )

        sample = scored.select("name_x", "name_y").limit(KERNEL_SAMPLE).toPandas()
        with open(os.path.join(wh, "tfidf.json")) as f:
            tfidf_json = f.read()
        build_s, margin_s = kernel_seconds_per_10k(
            sample["name_x"].tolist(), sample["name_y"].tolist(),
            load_artifacts()[0].to_json(), tfidf_json,
        )
        score_busy = dur("stage:scored_pairs")
        return {
            "pipeline.run_s": span["end"] - span["start"],
            "pipeline.names_s": dur("stage:names"),
            "pipeline.tfidf_wait_s": max(
                0.0,
                below["stage:scored_pairs"]["start"] - below["stage:candidate_pairs"]["end"],
            ),
            "canonicalize.busy_s": dur("stage:conversations"),
            "canonicalize.rows_out": ckpt.stored_rows("conversations") or 0,
            "tfidf.fit_s": dur("tfidf.fit"),
            "tfidf.terms": below["tfidf.fit"]["attrs"]["terms"],
            "blocking.keys_s": dur("blocking.keys"),
            "blocking.key_rows": keys.count(),
            "blocking.pairs_s": tracer.self_time(below["stage:candidate_pairs"]),
            "blocking.candidate_pairs": n_cands,
            "blocking.hot_keys": ckpt.read("block_metrics").where(F.col("hot")).count(),
            "blocking.metrics_s": dur("stage:block_metrics"),
            "blocking.truth_recall": truth_recall,
            "blocking.useful_ratio": matches / n_cands if n_cands else 0.0,
            "scoring.busy_s": score_busy,
            "scoring.pairs": n_scored,
            "scoring.pairs_per_s": n_scored / score_busy if score_busy else 0.0,
            "scoring.matches": matches,
            "scoring.tasks": tracer.inclusive(below["stage:scored_pairs"], "tasks"),
            "scoring.kernel_share": (
                (build_s + margin_s) * n_scored / KERNEL_SAMPLE
                / (score_busy * self.ctx.cores)
            ),
            "features.build_s_per_10k": build_s,
            "gbm.margin_s_per_10k": margin_s,
            "clustering.busy_s": dur("stage:components"),
            "clustering.edges_in": matches,
            "clustering.components": len(comp_sizes),
            "clustering.max_component": int(comp_sizes.max()) if len(comp_sizes) else 0,
            "resolve.entities_s": dur("stage:entities"),
            "resolve.records_s": dur("stage:resolved_conversations"),
            "resolve.entities": stages["entities"].select("entity_key").distinct().count(),
            "checkpoint.bytes_written": _dir_bytes(wh),
            "checkpoint.stages_written": sum(not s["attrs"]["resumed"] for s in stage_spans),
            "checkpoint.resumed": sum(s["attrs"]["resumed"] for s in stage_spans),
        }


class StreamAssign(Workload):
    """A closed loop with one client: ``assign_stream_batch`` on 64-name
    micro-batches of the arrivals against an ``EntityTokenIndex`` of the
    batch run over the history (see ``inputs.stream_fixture``)."""

    name = "stream_assign"
    op_span = "assign_stream_batch"
    quality_floor = ASSIGN_ACCURACY_FLOOR
    items_name = "names"
    batch_names = 64
    # over 70 consecutive calls the time per call fell from ~1.3 s to ~0.7 s
    # and flattened after ~35.  Across four runs the median call differed
    # by +-12% at calls 1-8, +-7% at calls 17-30 and +-3% at calls 40-70
    warmup_laps = 36

    def prepare(self) -> None:
        c = self.ctx
        self.fixture = inputs.stream_fixture(c.work, _scaled(200, c.scale, 8), c.seed)
        self.truth = pd.read_parquet(os.path.join(self.fixture, "truth.parquet"))

    def setup(self) -> float:
        from name_matching_spark.model.train import load_artifacts
        from name_matching_spark.operators.canonicalize import canonicalize
        from name_matching_spark.pipeline import run_pipeline
        from name_matching_spark.streaming.stream_resolve import EntityTokenIndex

        c = self.ctx
        self.wh = tempfile.mkdtemp(prefix="wh_", dir=c.work)
        t_batch, stages = timed(
            lambda: run_pipeline(
                c.spark, os.path.join(self.fixture, "history", "transcripts.parquet"), self.wh
            )
        )

        def artifacts():
            with open(os.path.join(self.wh, "tfidf.json")) as f:
                return load_artifacts()[0].to_json(), f.read()

        t_art, (self.model_json, self.tfidf_json) = timed(artifacts)
        entities = stages["entities"]
        span = c.tracer.span("stream.index_build") if c.tracer else contextlib.nullcontext()
        with span as self.index_span:
            t_index, self.index = timed(lambda: EntityTokenIndex(entities))

        # benchmark inputs derived from the batch output (not set-up time):
        # which truth entities each entity key holds, and the arrivals'
        # names as the program extracts them, in time order
        truth = self.truth[["conv_id", "entity_id", "new"]]
        ent = entities.select("name", "entity_key").toPandas()
        self.member_names = set(ent["name"])
        history = (
            stages["conversations"].select("conv_id", "name").toPandas().dropna()
            .merge(truth, on="conv_id")
        )
        per_name = history.groupby("name")["entity_id"].agg(set)
        self.key_truth = (
            ent.assign(ents=ent["name"].map(per_name)).dropna()
            .groupby("entity_key")["ents"].agg(lambda s: set().union(*s)).to_dict()
        )
        arrivals = canonicalize(
            c.spark.read.parquet(os.path.join(self.fixture, "arrivals", "transcripts.parquet"))
        ).select("conv_id", "name", "first_ts").toPandas()
        arrivals = (
            arrivals[arrivals["name"].fillna("").str.len() > 0]
            .merge(truth, on="conv_id")
            .sort_values(["first_ts", "conv_id"], ignore_index=True)
        )
        # full micro-batches only (one short batch when the stream is smaller)
        n = max(1, len(arrivals) // self.batch_names)
        self.batches = [
            arrivals.iloc[k * self.batch_names : (k + 1) * self.batch_names]
            for k in range(n)
        ]
        t_warm = sum(  # untimed warm-up laps
            self._assign(self.batches[k % n])[0] for k in range(self.warmup_laps)
        )
        return t_batch + t_art + t_index + t_warm

    def _assign(self, batch: pd.DataFrame):
        from name_matching_spark.streaming.stream_resolve import assign_stream_batch

        new = self.ctx.spark.createDataFrame(batch[["conv_id", "name"]])
        secs, rows = timed(
            lambda: assign_stream_batch(
                new, self.index, self.model_json, self.tfidf_json
            ).collect()
        )
        return secs, (batch, rows)

    def op(self, i: int):
        return self._assign(self.batches[i % len(self.batches)])

    def check(self, payload):
        batch, rows = payload
        out = {r["conv_id"]: r for r in rows}
        ok = len(rows) == len(batch) and set(out) == set(batch["conv_id"])
        correct = 0
        for conv_id, new, src in zip(batch["conv_id"], batch["new"], batch["entity_id"]):
            r = out.get(conv_id)
            if r is None or r["status"] not in ("assigned", "pending"):
                ok = False
                continue
            if r["status"] == "assigned" and r["entity_key"] is None:
                ok = False
            if new:
                correct += r["status"] == "pending"
            else:
                correct += r["status"] == "assigned" and src in self.key_truth.get(
                    r["entity_key"], ()
                )
        return ok, len(batch), correct / len(batch)

    def report(self, p50_ms, tail_ms, tail_note, quality) -> list[str]:
        return [
            f"metric assign_p50_ms = {p50_ms:.1f} ms",
            f"metric assign_tail_ms = {tail_ms:.1f} ms ({tail_note})",
            f"metric assign_accuracy = {quality:.4f} ratio",
        ]

    def layers(self, tracer, op_spans, payloads) -> dict:
        cands = self.ctx.seen.get("stream_cands", [])
        n_names = exact = pending = n_cands = 0
        for (batch, rows), frame in zip(payloads, cands):
            exact_here = int(batch["name"].isin(self.member_names).sum())
            n_names += len(batch)
            exact += exact_here
            pending += sum(r["status"] == "pending" for r in rows)
            n_cands += frame.count()
        scored_names = n_names - exact
        return {
            "stream.index_build_s": self.index_span["end"] - self.index_span["start"],
            "stream.index_rows": self.index.n_rows,
            "assign.exact_hit_ratio": exact / n_names,
            "assign.candidates_per_name": n_cands / scored_names if scored_names else 0.0,
            "assign.pending_ratio": pending / n_names,
            "assign.jobs_per_batch": median([tracer.inclusive(s, "jobs") for s in op_spans]),
            "assign.tasks_per_batch": median([tracer.inclusive(s, "tasks") for s in op_spans]),
        }

    def close(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)


WORKLOADS = {w.name: w for w in (BatchEr, StreamAssign)}
