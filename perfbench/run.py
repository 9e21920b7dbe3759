"""Benchmark of the entity-resolution engine.

    python3 perfbench/run.py --workload batch_er --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads (see ``BENCHMARK.json`` and
``perfbench/README.md``):

* ``batch_er``: the batch pipeline end to end on a seeded transcript table;
* ``stream_assign``: micro-batch assignment of new names to an entity index.

Spark runs ``local[N]`` with N = ``$SPARK_GRAFT_CPUS`` or the usable cores.
Set-up (session start, artifact load, the workload's preparation and
untimed warm-up calls) is timed once; then the workload's call repeats for
``--seconds``, each output is checked, and the last stdout line is one JSON
object.  With ``--trace 0`` it carries the end-to-end metrics; with
``--trace 1`` the calls alternate between untraced and traced, the JSON
carries the per-layer metrics of the traced calls, and the spans are
written to ``perfbench/_out/``.  Exits non-zero, with no JSON line, when
the program cannot be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env else len(os.sched_getaffinity(0))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _tail(samples_ms: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it."""
    s = sorted(samples_ms)
    n = len(s)
    if n < 11:
        return s[-1], f"max of n={n}; no percentile has 10 samples beyond it"
    return s[n - 11], f"p{100 * (n - 10) / n:.1f} of n={n}; max {s[-1]:.1f} ms"


def _old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the driver JVM's old generation: the heap the run
    retained, which the heap cap keeps out of peak_rss_mb."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory" and "Old Gen" in pool.getName():
            return pool.getPeakUsage().getUsed() / (1 << 20)
    return 0.0


def _stop_spark(spark) -> list[int]:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    from perfbench import procmon

    tree = procmon.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    return procmon.wait_gone(tree, timeout=30)


@dataclass
class Samples:
    attempted: int = 0
    failed: int = 0
    plain_ms: list = field(default_factory=list)  # untraced calls
    traced_ms: list = field(default_factory=list)
    details: list = field(default_factory=list)  # each check's quality figure
    items: int = 0  # work done by the untraced calls
    op_spans: list = field(default_factory=list)
    traced_payloads: list = field(default_factory=list)


def measure(wl, ctx, seconds: float) -> Samples:
    """Repeat the workload's call for ``seconds``, and at least twice, so a
    median never rests on one call (a traced run alternates untraced and
    traced calls)."""
    from perfbench.trace import instrument

    tracer = ctx.tracer
    s = Samples()
    t_start = time.perf_counter()
    i = 0
    while i < 2 or time.perf_counter() - t_start < seconds:
        traced = tracer is not None and i % 2 == 1
        i += 1
        s.attempted += 1
        try:
            if traced:
                with tracer.span(wl.op_span) as rec, instrument(tracer, ctx.seen):
                    secs, payload = wl.op(i)
            else:
                secs, payload = wl.op(i)
            ok, n_items, detail = wl.check(payload)
        except Exception:
            traceback.print_exc()
            s.failed += 1
            continue
        s.failed += not ok
        s.details.append(detail)
        if traced:
            s.traced_ms.append(secs * 1000)
            s.op_spans.append(rec)
            s.traced_payloads.append(payload)
        else:
            s.plain_ms.append(secs * 1000)
            s.items += n_items
            wl.release(payload)
    return s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="input size multiplier (the smoke self-test uses a small one)",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark
        import name_matching_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2

    from perfbench import metrics, procmon, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = _cores()
    mem_mb = _mem_total_mb()
    # A heap cap the workloads fill early, so the JVM's resident size stops
    # at the cap instead of following the collector's heap growth: with the
    # program's default 8 GB, peak_rss_mb spread 0.32 (IQR / median, five
    # seeds) on stream_assign and 0.13 on batch_er, against 0.03-0.09 with
    # 1 GB.  The heap the run retained is reported as jvm.old_gen_peak_mb,
    # so growth under the cap stays visible.
    driver_mb = min(1024, mem_mb // 4)
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every scratch file of the run (Spark's included) in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_mb}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )

    lines = [
        f"info workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} scale={args.scale}",
        f"info cores={cores} mem_total_mb={mem_mb} driver_memory_mb={driver_mb} "
        f"pyspark={pyspark.__version__} python={sys.version.split()[0]}",
    ]
    rss = procmon.PeakRss().start()
    spark = None
    try:
        from name_matching_spark.session import get_spark

        session_s, spark = workloads.timed(
            lambda: get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{cores}]",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                },
            )
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed, scale=args.scale, cores=cores,
            tracer=Tracer(spark.sparkContext) if args.trace else None,
        )
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.prepare()
        setup_s = session_s + wl.setup()
        s = measure(wl, ctx, args.seconds)
        quality = sum(s.details) / len(s.details) if s.details else 0.0
        old_gen_mb = _old_gen_peak_mb(spark)
        lines.append(f"info jvm_old_gen_peak_mb={old_gen_mb:.1f} (heap cap {driver_mb} MB)")
        if args.trace:
            result = {name: 0.0 for name, *_ in metrics.PER_LAYER}
            result["session.start_s"] = session_s
            result["jvm.old_gen_peak_mb"] = old_gen_mb
            if s.op_spans:
                result.update(wl.layers(ctx.tracer, s.op_spans, s.traced_payloads))
            for payload in s.traced_payloads:
                wl.release(payload)
            overhead_ms = workloads.median(s.traced_ms) - workloads.median(s.plain_ms)
            trace_path = os.path.join(
                HERE, "_out", f"trace-{args.workload}-seed{args.seed}.json"
            )
            ctx.tracer.dump(trace_path, {
                "workload": args.workload, "seed": args.seed,
                "overhead_ms": overhead_ms, "layers": result,
            })
            lines += [
                f"trace spans={len(ctx.tracer.spans)} traced_calls={len(s.traced_ms)} "
                f"untraced_calls={len(s.plain_ms)} overhead_ms={overhead_ms:.1f} "
                "(median traced minus median untraced call)",
                f"trace written to {os.path.relpath(trace_path, ROOT)}",
            ]
        wl.close()
        peak_mb = rss.stop()
        correct = bool(s.plain_ms) and s.failed == 0 and quality >= wl.quality_floor
        # 0 when no untraced call succeeded (then correct is false)
        p50 = workloads.median(s.plain_ms)
        if not args.trace:
            result = {
                "setup_s": setup_s,
                "peak_rss_mb": peak_mb,
                "op_p50_ms": p50,
                "quality": quality,
            }
        lines += [
            f"samples n={len(s.plain_ms)} untraced calls of {wl.name} "
            f"({s.items} {wl.items_name}) ms: "
            + " ".join(f"{ms:.0f}" for ms in s.plain_ms),
            f"metric setup_s = {setup_s:.4f} s",
            f"metric peak_rss_mb = {peak_mb:.1f} MB",
            f"metric op_fail_ratio = {s.failed / s.attempted:.4f} ratio "
            f"({s.failed} of {s.attempted})",
        ]
        if s.plain_ms:
            lines += wl.report(p50, *_tail(s.plain_ms), quality)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        if spark is not None:
            killed = _stop_spark(spark)
            if killed:
                lines.append(f"warning killed {len(killed)} leftover processes")
        shutil.rmtree(work, ignore_errors=True)

    for line in lines:
        print(line)
    print(json.dumps({
        "correct": correct,
        "attempted": s.attempted,
        "failed": s.failed,
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in result.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
