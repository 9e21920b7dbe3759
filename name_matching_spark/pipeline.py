"""The end-to-end entity-resolution pipeline (batch, resumable).

Re-architects the reference's 10-stage pandas flow
(entity_resolution.py:368-433 in vietexob/name-matching) as checkpointed
Spark stages:

  transcripts --canonicalize--> conversations (turn collapse + mention)
              --names---------> distinct normalized names
              --block---------> candidate pairs (token/phonetic/LSH keys)
              --score---------> features + probability + decision @0.85
              --cluster-------> subsumption-aware refined components of
                                the match graph (operators/clustering.py)
              --resolve-------> entity table + resolved conversations

Every stage lands in the warehouse with a manifest (rows, per-partition
lineage, timing); a rerun resumes from the last complete stage.  Shuffle
boundaries: the canonicalize groupBy, the blocking key exchange, the pair
dedup, and the CC iterations — everything else is narrow.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import json
import os

from name_matching_spark.functions.tfidf import ADAPTIVE_VOCAB_CEILING, TfidfModel
from name_matching_spark.io.checkpoint import CheckpointManager
from name_matching_spark.model.train import load_artifacts, load_train_corpus
from name_matching_spark.operators.blocking import (
    block_stats,
    candidate_pairs,
    materialized_blocking_keys,
)
from name_matching_spark.operators.canonicalize import canonicalize
from name_matching_spark.operators.clustering import (
    EVIDENCE_MAX_ALIGN,
    EVIDENCE_MIN_COSINE,
    EVIDENCE_MIN_SIZE,
    LADDER,
    MAX_COMPONENT,
    subsumption_aware_components,
)
from name_matching_spark.operators.resolve import entity_table, resolve_records
from name_matching_spark.operators.scoring import EMB_MATCH_COSINE, score_pairs


class EntityResolutionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        threshold: float = 0.85,
        max_block: int = 100,
        run_id: str | None = None,
        keep_features: bool = False,
    ):
        self.spark = spark
        self.ckpt = CheckpointManager(spark, warehouse, run_id)
        self.threshold = threshold
        self.max_block = max_block
        # keep_features=True persists every per-pair feature column in the
        # scored_pairs checkpoint (debugging/analysis); default off — at
        # scale it multiplies the Arrow + parquet volume ~15x.
        self.keep_features = keep_features
        model, _ = load_artifacts()
        self._model_json = model.to_json()
        self.timings: dict[str, float] = {}

    def _stage(self, name: str, fn, inputs=None, params=None) -> DataFrame:
        t0 = time.time()
        out = self.ckpt.stage(name, fn, inputs=inputs, params=params)
        self.timings[name] = round(time.time() - t0, 3)
        return out

    def _tfidf_stage(self, names: DataFrame, fp: dict) -> tuple[str, dict]:
        """Fit (or resume) the corpus-adaptive TF-IDF; returns (json, meta).

        The sidecar ``tfidf.json.meta`` records the input fingerprint and a
        hash of the training corpus the vocabulary was fitted over; a
        resume serves the stored vocabulary ONLY when both match (the same
        param-aware rule every table stage follows).  Existence alone is
        not enough: resuming an existing warehouse against a different
        transcripts table (or a retrained corpus artifact) must refit, not
        silently score with the old vocabulary.  The meta file is written
        LAST and binds the json CONTENT by hash — a crash between the two
        writes (new json, old meta) therefore reads as a mismatch and
        refits, never as a valid pair.
        """
        path = os.path.join(self.ckpt.warehouse, "tfidf.json")
        meta_path = path + ".meta"
        corpus = load_train_corpus()
        fingerprint = {
            **fp,
            "corpus_md5": hashlib.md5(
                json.dumps(corpus, sort_keys=True).encode()
            ).hexdigest(),
            # the fit config is part of the identity, derived from the
            # real ceiling, so changing it cannot silently serve a stale
            # vocabulary on resume
            "fit_cfg": f"adaptive-{ADAPTIVE_VOCAB_CEILING}",
        }
        if os.path.exists(path) and os.path.exists(meta_path):
            try:
                with open(meta_path) as f:
                    stored = json.load(f)
                with open(path) as f:
                    stored_json = f.read()
            except Exception:
                stored = stored_json = None
            if (
                stored is not None
                and {k: stored.get(k) for k in fingerprint}
                == json.loads(json.dumps(fingerprint))
                and stored.get("json_md5")
                == hashlib.md5(stored_json.encode()).hexdigest()
            ):
                return stored_json, stored
        t0 = time.time()
        tfidf = TfidfModel.fit_spark(
            names, name_col="name", extra_corpus=corpus, max_features=None
        )
        payload = tfidf.to_json()
        meta = {
            **fingerprint,
            "json_md5": hashlib.md5(payload.encode()).hexdigest(),
            # EFFECTIVE fit: the adaptive fit auto-switches to hashed past
            # its term ceiling.  Deterministic in (corpus, input, fit_cfg)
            # — all compared fingerprint keys — so serving a stored
            # artifact is safe; recorded for observability and flows into
            # the scored_pairs fingerprint via json_md5 (a switch re-scores).
            "effective_fit": (
                f"hashed-{tfidf.n_buckets}"
                if hasattr(tfidf, "n_buckets")
                else f"adaptive-{len(tfidf.vocab)}"
            ),
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, path)  # resume must never see a torn artifact
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
        self.timings["tfidf"] = round(time.time() - t0, 3)
        return payload, meta

    def run(
        self, transcripts: DataFrame, embeddings: DataFrame | None = None
    ) -> dict[str, DataFrame]:
        """``embeddings``: optional (name, embedding array) table of
        PRE-COMPUTED vectors for (a subset of) normalized names — the
        reference's sentence-embedding F7 channel without the model
        dependency.  Joined per pair side before scoring; pairs whose
        vectors reach the scorer's ``EMB_MATCH_COSINE`` cosine match even
        with zero lexical overlap (operators/scoring.py).  Names without
        a vector fall back to the string decision alone."""
        # Input fingerprint: the normalized-plan hash of the input table.
        # Recorded in every stage manifest so a resume against a different
        # transcripts table (or different stage parameters) recomputes
        # instead of silently serving stale results.
        in_fp = {"input": transcripts.semanticHash()}
        conv = self._stage(
            "conversations", lambda: canonicalize(transcripts), params=in_fp
        )
        names = self._stage(
            "names",
            lambda: conv.where(
                F.col("name").isNotNull() & (F.length("name") > 0)
            )
            .select("name")
            .distinct(),
            inputs=["conversations"],
            params=in_fp,
        )
        block_params = {**in_fp, "max_block": self.max_block}
        # candidate_pairs and block_metrics consume the SAME blocking-key
        # table (metaphone UDF + MinHash signatures over every name — the
        # expensive part of blocking).  Materialize it lazily, on first
        # use: if both stages resume from checkpoint the keys are never
        # computed at all; if either recomputes, the other reuses the
        # same localCheckpoint instead of re-running the key pass.
        _keys_cache: list = []

        def blocking_keys_once():
            if not _keys_cache:
                _keys_cache.append(materialized_blocking_keys(names))
            return _keys_cache[0]

        # Corpus-adaptive TF-IDF: distributed fit over training ∪ resolution
        # names (checkpointed like any stage — only the 10k-term vocab is
        # collected/stored, never the name table).  The fit and the blocking
        # stages both depend ONLY on the materialized names checkpoint and
        # neither reads the other's output, so the fit runs on a worker
        # thread while blocking runs on this one (guide §2.6 overlap
        # independent jobs): both are driver-coordination-bound at bench
        # scale and neither saturates the executor, so the scheduler
        # interleaves their jobs instead of idling between round trips.
        # Results are unchanged by construction — each thread's computation
        # is internally deterministic and reads only the shared immutable
        # checkpoint — and the future is joined (exceptions re-raised)
        # before anything downstream consumes the vocabulary.  Measured
        # against the sequential order at 200 entities on a 4-core host:
        # median 6.91 s overlapped vs 8.13 s sequential (6 alternated
        # runs each).  A failure on either thread surfaces with the other's
        # attached (_note_background_failures).
        from concurrent.futures import ThreadPoolExecutor

        _pool = ThreadPoolExecutor(max_workers=1)
        background: dict = {}
        try:
            background["tfidf"] = _pool.submit(self._tfidf_stage, names, in_fp)
            pairs = self._stage(
                "candidate_pairs",
                lambda: candidate_pairs(
                    names, max_block=self.max_block, keys=blocking_keys_once()
                ),
                inputs=["names"],
                params=block_params,
            )

            def _block_metrics_stage():
                return self._stage(
                    "block_metrics",
                    lambda: block_stats(
                        names, max_block=self.max_block, keys=blocking_keys_once()
                    ),
                    inputs=["names"],
                    params=block_params,
                )

            # The metrics side-output is consumed by nothing downstream;
            # queue it on the worker (after the fit — max_workers=1) so it
            # overlaps the scorer stage instead of sitting between
            # candidate_pairs and scored_pairs on the critical path.
            # candidate_pairs has already populated the keys cache on this
            # thread, so the worker only reads the materialized frame (no
            # keys race).  The pool is NOT a context manager here: its
            # shutdown join happens in the finally below, so the queued
            # metrics job keeps running while the main thread proceeds
            # into the scorer stage.
            background["block_metrics"] = _pool.submit(_block_metrics_stage)
            tfidf_json, tfidf_meta = background["tfidf"].result()
            # Repartition before the Arrow-UDF scorer: the checkpointed pair
            # table is small on disk and AQE would coalesce it to a few
            # partitions, starving the (CPU-bound) scorer of parallelism.
            # 1x parallelism, not 2x: each task pays a Python-worker Arrow
            # round-trip, and the measured sweet spot is one ~20k-row Arrow
            # batch per core (32 parts 3.10s / 64 parts 3.29s / 128 parts
            # 4.27s on the 230k-pair bench stage).
            n_part = self.spark.sparkContext.defaultParallelism
            # Artifact identity rides in the params: a scored_pairs checkpoint
            # produced with an older model or TF-IDF vocabulary must not be
            # served after either artifact changes.
            score_params = {
                **block_params,
                "threshold": self.threshold,
                "keep_features": self.keep_features,
                "model_md5": hashlib.md5(self._model_json.encode()).hexdigest(),
                "tfidf": tfidf_meta,
                # plan-hash of the optional embedding channel: a changed or
                # newly-supplied vector table must invalidate scored_pairs
                "embeddings": embeddings.semanticHash() if embeddings is not None else None,
            }

            def _score_stage():
                p = pairs.repartition(n_part)
                if embeddings is not None:
                    from name_matching_spark.operators.similarity_search import (
                        embedding_candidates,
                    )

                    e = embeddings.select(
                        F.col("name"), F.col("embedding").alias("_v")
                    )
                    dim_row = embeddings.select(
                        F.size("embedding").alias("d")
                    ).first()
                    # Zero-lexical-overlap aliases never co-block on strings:
                    # the semantic channel contributes its own LSH candidates.
                    sem = embedding_candidates(
                        embeddings, dim=int(dim_row["d"]) if dim_row else 32
                    )
                    p = p.unionByName(sem).dropDuplicates(["name_x", "name_y"])
                    p = (
                        p.join(
                            e.withColumnRenamed("name", "name_x").withColumnRenamed(
                                "_v", "emb_x"
                            ),
                            "name_x",
                            "left",
                        ).join(
                            e.withColumnRenamed("name", "name_y").withColumnRenamed(
                                "_v", "emb_y"
                            ),
                            "name_y",
                            "left",
                        )
                    )
                scored = score_pairs(
                    p,
                    self._model_json,
                    tfidf_json,
                    threshold=self.threshold,
                    keep_features=self.keep_features,
                )
                # vectors themselves never persist into the checkpoint — only
                # their cosine and the decision they influenced
                return scored.drop("emb_x", "emb_y")

            scored = self._stage(
                "scored_pairs",
                _score_stage,
                inputs=["candidate_pairs", "tfidf"],
                params=score_params,
            )
            # surface worker failures; completes ~with the scorer
            background["block_metrics"].result()
            matches = scored.where(F.col("prediction") == 1)

            def cluster_fn():
                # cosine_sim / align_edit / token_weakest_link ride along
                # for the evidence rung and subsumption split (score_pairs
                # always emits them, keep_features or not).  An
                # embedding-verified edge (semantic channel) counts as
                # near-exact evidence: without this the evidence rung would
                # cut exactly the zero-lexical-overlap matches the channel
                # exists to keep.
                align = F.col("align_edit")
                if "emb_cosine" in matches.columns:
                    align = F.when(
                        F.coalesce(F.col("emb_cosine"), F.lit(-1.0))
                        >= EMB_MATCH_COSINE,
                        F.lit(0.0),
                    ).otherwise(align)
                m = matches.select(
                    F.col("name_x").alias("src"),
                    F.col("name_y").alias("dst"),
                    "probability",
                    "cosine_sim",
                    align.alias("align_edit"),
                    "token_weakest_link",
                    # raw margin (when the checkpoint carries it): ladder
                    # rungs above 0.999 and attach tie-breaks rank with it
                    # where the 4dp probability has saturated
                    *(["margin"] if "margin" in matches.columns else []),
                )
                # Subsumption edges (initial/diminutive/prefix-extension
                # forms) are pair-level matches but ambiguous CLUSTER
                # evidence: they attach to a cluster, never glue two
                # (isolated all-subsumption families still cluster
                # among themselves under the same cap).  Measured pair
                # precision at 100k entities is 0.66 with this routing
                # and 0.13 when they glue (ambiguous initial forms weld
                # 800-name mega-clusters; BENCH/QUALITY.md).  The
                # refinement runs its shipped configuration, the
                # clustering module's LADDER / MAX_COMPONENT /
                # EVIDENCE_MIN_SIZE.
                return subsumption_aware_components(m)

            cluster_params = {
                **score_params,
                "max_component": MAX_COMPONENT,
                "ladder": list(LADDER),
                "evidence_rung": f"cos{EVIDENCE_MIN_COSINE}|align{EVIDENCE_MAX_ALIGN}",
                "evidence_min_size": EVIDENCE_MIN_SIZE,
            }
            components = self._stage(
                "components",
                cluster_fn,
                inputs=["scored_pairs"],
                params=cluster_params,
            )
            # Downstream-of-clustering stages carry the clustering params
            # too: otherwise a resume after a clustering change recomputes
            # components but silently serves stale entities/resolved
            # tables built from the old components.
            entities = self._stage(
                "entities",
                lambda: entity_table(components, names),
                inputs=["components", "names"],
                params=cluster_params,
            )
            resolved = self._stage(
                "resolved_conversations",
                lambda: resolve_records(conv, entities, ["name"]),
                inputs=["conversations", "entities"],
                params=cluster_params,
            )
            return {
                "conversations": conv,
                "names": names,
                "candidate_pairs": pairs,
                "scored_pairs": scored,
                "components": components,
                "entities": entities,
                "resolved_conversations": resolved,
            }
        except BaseException as err:
            _note_background_failures(err, background)
            raise
        finally:
            _pool.shutdown(wait=True)


def _note_background_failures(err: BaseException, background: dict) -> None:
    """Cancel the still-queued background stages, wait for the running
    one, and attach each failure other than ``err`` itself to ``err`` as
    a note — otherwise the pool's shutdown join would drop it."""
    import traceback

    for fut in background.values():
        fut.cancel()
    for name, fut in background.items():
        if fut.cancelled():
            continue
        exc = fut.exception()
        if exc is not None and exc is not err:
            err.add_note(
                f"background stage {name!r} also failed:\n"
                + "".join(traceback.format_exception(exc)).rstrip()
            )


def run_pipeline(
    spark: SparkSession,
    transcripts_path: str,
    warehouse: str,
    threshold: float = 0.85,
    max_block: int = 100,
) -> dict[str, DataFrame]:
    """spark-submit entry: read the transcript table, run, return stages."""
    transcripts = spark.read.parquet(transcripts_path)
    pipe = EntityResolutionPipeline(
        spark, warehouse, threshold=threshold, max_block=max_block
    )
    return pipe.run(transcripts)


if __name__ == "__main__":
    import argparse

    from name_matching_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("transcripts", help="path to transcripts parquet")
    ap.add_argument("warehouse", help="warehouse directory for stage checkpoints")
    ap.add_argument("--threshold", type=float, default=0.85)
    ap.add_argument("--max-block", type=int, default=100)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark(master=args.master)
    stages = run_pipeline(
        spark, args.transcripts, args.warehouse, args.threshold, args.max_block
    )
    ents = stages["entities"]
    print(f"entities: {ents.select('entity_key').distinct().count()}")
    spark.stop()
