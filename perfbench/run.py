"""Seeded end-to-end benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 10 --trace 0

Workloads: ``stream_live`` and ``batch_registry`` (see README.md). With ``--trace 0`` the last stdout line is one JSON object
holding the end-to-end metrics; with ``--trace 1`` it holds the
per-layer metrics, and the spans are written to
``.perfbench/trace-<workload>-seed<seed>.json``. Every run also writes
its full record (environment, samples, failures, both metric sets) to
``.perfbench/results/``. The process exits non-zero, without a result
line, when the workload cannot run at all.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback


def _process_start() -> float:
    """Epoch time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import metrics  # noqa: E402

# workload -> module that runs it
WORKLOADS = {"stream_live": "live", "batch_registry": "registry"}


class Context:
    def __init__(self, args, work: str, t_start: float) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.scale = args.scale
        self.work = work
        self.t_start = t_start
        self.tracer = common.Tracer(self.trace)
        self.spark = None
        self.sampler = None
        self.session_start_s = 0.0
        self.setup_s = None

    def mark_setup_done(self) -> None:
        """Called by the workload just before its first timed operation."""
        self.setup_s = time.time() - self.t_start


def main(argv=None) -> int:
    t_start = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="smaller inputs for smoke tests: the scale factor for batch_registry")
    args = ap.parse_args(argv)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(common.OUT, "work", f"{tag}-{os.getpid()}")
    common.prepare_env(work)
    ctx = Context(args, work, t_start)
    try:
        module = importlib.import_module(WORKLOADS[args.workload])
        with common.TreeSampler() as ctx.sampler:
            with ctx.tracer.span("session.start", op="setup"):
                t = time.perf_counter()
                ctx.spark = common.start_spark(work, ctx.trace)
                ctx.session_start_s = time.perf_counter() - t
            env = common.environment(args.seed, ctx.spark)
            out = module.run(ctx)
        result = finish(ctx, args, env, out, ctx.sampler.peak_bytes, tag)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop(ctx)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def finish(ctx, args, env, out, peak_rss, tag) -> dict:
    detail = {"setup_s": ctx.setup_s, "peak_rss_mb": peak_rss / 2**20, **out["e2e"], **out["detail"]}
    e2e = {k: detail.pop(k) for k in metrics.END_TO_END}
    measured = {"session.start_s": ctx.session_start_s, **out["layers"]}
    layers = {name: float(measured.get(name, 0.0)) for name in metrics.PER_LAYER}
    failures = out["failures"]
    attempted = max(1, int(out["attempted"]))
    record = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "environment": env, "generator": out.get("generator"),
        "samples": out.get("samples"), "load": out.get("load"), "attempted": attempted,
        "failed": len(failures), "fail_ratio": len(failures) / attempted,
        "failures": failures[:50],
        "end_to_end": e2e, "detail": detail,
        "per_layer": layers,
    }
    common.write_json(os.path.join(common.OUT, "results", f"{tag}.json"), record)
    if ctx.trace:
        common.write_json(
            os.path.join(common.OUT, f"trace-{args.workload}-seed{args.seed}.json"),
            {**record, "spans": ctx.tracer.spans},
        )
        shown = {k: (v, metrics.PER_LAYER[k][0]) for k, v in layers.items()}
    else:
        shown = {k: (v, metrics.END_TO_END[k][0]) for k, v in e2e.items()}
    return {
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }


def stop(ctx) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    if ctx.spark is None:
        return
    from mlops_realtime_data_ingestion_spark.session import hard_reset_jvm

    hard_reset_jvm()


if __name__ == "__main__":
    sys.exit(main())
