"""In-memory span tracer for the traced benchmark run.

A span records its name, start, end, parent span and thread.  Each span
runs its Spark jobs under its own job group, so the jobs (and their
tasks) are attributed to the innermost open span on the submitting
thread; a span's inclusive counts add its children's.  Spans are wrapped
around calls into the program's public functions from outside (see
``instrument``): nothing inside the program is changed or read for
timing.  Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None  # outermost open span, any thread
        self.t0 = time.perf_counter()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        if stack:
            parent = stack[-1]["id"]
        else:
            # a span opened on a fresh thread (the pipeline's TF-IDF /
            # metrics worker) is caused by the span that started the work
            parent = self._root
        rec = {
            "id": sid,
            "parent": parent,
            "name": name,
            "thread": threading.current_thread().name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "attrs": dict(attrs),
        }
        if self._root is None:
            self._root = sid
        stack.append(rec)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"span-{stack[-1]['id']}", stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if self._root == sid:
                self._root = None
            rec["jobs"], rec["tasks"] = self._job_counts(f"span-{sid}")
            with self._lock:
                self.spans.append(rec)

    def _job_counts(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(jobs), tasks

    # -- derived views ---------------------------------------------------------

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def inclusive(self, span: dict, key: str) -> int:
        return span[key] + sum(self.inclusive(c, key) for c in self.children(span["id"]))

    def self_time(self, span: dict) -> float:
        """Duration minus the part of its interval the children cover."""
        ivs = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.children(span["id"])
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def subtree(self, under: dict) -> list[dict]:
        """Every span below ``under``."""
        out, todo = [], [under["id"]]
        while todo:
            for c in self.children(todo.pop()):
                out.append(c)
                todo.append(c["id"])
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = sorted(self.spans, key=lambda s: s["start"])
        for s in spans:
            s["self_s"] = round(self.self_time(s), 6)
            s["jobs_incl"] = self.inclusive(s, "jobs")
            s["tasks_incl"] = self.inclusive(s, "tasks")
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)


@contextlib.contextmanager
def patched(target, attr: str, replacement):
    """Temporarily replace ``target.attr`` (restored on exit)."""
    original = target.__dict__[attr] if isinstance(target, type) else getattr(target, attr)
    setattr(target, attr, replacement)
    try:
        yield
    finally:
        setattr(target, attr, original)


@contextlib.contextmanager
def instrument(tracer: Tracer, seen: dict):
    """Span the program's layer boundaries for the duration of the block.

    * ``CheckpointManager.stage``: one span per stage name (every Spark
      stage of the batch pipeline executes inside this call);
    * ``materialized_blocking_keys`` (as the pipeline calls it);
    * ``TfidfModel.fit_spark`` (runs on the pipeline's worker thread).

    A stage span records whether the stage was resumed from an existing
    manifest, the fit span the fitted vocabulary size.  ``seen`` collects
    frames to count after the timed call: the blocking keys and the stream
    path's candidate pairs."""
    import name_matching_spark.pipeline as pipeline_mod
    import name_matching_spark.streaming.stream_resolve as stream_mod
    from name_matching_spark.functions.tfidf import TfidfModel
    from name_matching_spark.io.checkpoint import CheckpointManager

    stage_orig = CheckpointManager.stage
    keys_orig = pipeline_mod.materialized_blocking_keys
    fit_orig = TfidfModel.fit_spark
    score_orig = stream_mod.score_pairs

    def stage(self, name, fn, *args, **kwargs):
        manifest = self.manifest_path(name)
        before = os.stat(manifest).st_mtime_ns if os.path.exists(manifest) else None
        with tracer.span(f"stage:{name}") as rec:
            out = stage_orig(self, name, fn, *args, **kwargs)
        after = os.stat(manifest).st_mtime_ns if os.path.exists(manifest) else None
        rec["attrs"]["resumed"] = before is not None and before == after
        return out

    def keys(*args, **kwargs):
        with tracer.span("blocking.keys"):
            out = keys_orig(*args, **kwargs)
        seen.setdefault("keys", []).append(out)
        return out

    def fit(*args, **kwargs):
        with tracer.span("tfidf.fit") as rec:
            model = fit_orig(*args, **kwargs)
        rec["attrs"]["terms"] = (
            len(model.vocab) if hasattr(model, "vocab") else int(model.n_buckets)
        )
        return model

    def stream_score(pairs, *args, **kwargs):
        seen.setdefault("stream_cands", []).append(pairs)
        return score_orig(pairs, *args, **kwargs)

    with contextlib.ExitStack() as stack:
        stack.enter_context(patched(CheckpointManager, "stage", stage))
        stack.enter_context(patched(pipeline_mod, "materialized_blocking_keys", keys))
        stack.enter_context(patched(TfidfModel, "fit_spark", staticmethod(fit)))
        stack.enter_context(patched(stream_mod, "score_pairs", stream_score))
        yield
