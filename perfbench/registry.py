"""``batch_registry``: a closed loop with one client running registry
queries in passes, each pass in an order shuffled by the seed.

- The analytics mix is bound by the driver and the planner: short
  queries where defining and planning the frame is a large share.
- The curation mix is bound by stage chains, shuffles and Arrow UDFs.
- Neither touches the streaming layers.

Each query is resolved before timing; a missing name or a query that
raises counts as a failed operation in every pass and is never dropped.
A warm-up pass, which also collects the rows checked against each
query's DuckDB oracle, belongs to set-up with the cold JIT and any
index built on first touch.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

import common
import datagen
import stats

SF = 0.01
WARM_PASSES = 2
ANALYTICS = (
    "tpch_q1_pricing_summary",
    "join_3way_brand_nation",
    "wf_rank_lag_lead",
    "sessionize_events",
    "p1_dedup_keep_first",
)
CURATION = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_score",
    "sim_search_cosine_topk",
)
MIXES = {"analytics": ANALYTICS, "curation": CURATION}


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "data")
    with tracer.span("generator.tables", op="setup"):
        datagen.write_batch_tables(sf_dir, ctx.seed, ctx.scale or SF)
    with tracer.span("plans.registry.import", op="setup"):
        from mlops_realtime_data_ingestion_spark.plans.registry import all_specs

        specs = all_specs()
    counters = Counters(ctx)
    failures: list[str] = []
    collected: dict[str, tuple[list[str], list[tuple]]] = {}

    # The first pass is cold and collects the rows for the oracle check;
    # WARM_PASSES - 1 further untimed passes follow, so that the timed
    # passes run code the JVM has already compiled.
    with tracer.span("warmup", op="setup"):
        for name in ANALYTICS + CURATION:
            spec = specs.get(name)
            if spec is None:
                continue
            try:
                df = spec.fn(spark, sf_dir)
                collected[name] = (list(df.columns), [tuple(r) for r in df.collect()])
            except Exception as e:  # counted below, in the check
                collected[name] = (None, repr(e))
        for _ in range(WARM_PASSES - 1):
            for name in ANALYTICS + CURATION:
                if collected.get(name, (None,))[0] is not None:
                    specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    ctx.mark_setup_done()

    rng = random.Random(ctx.seed)
    times: dict[str, list[float]] = {n: [] for n in ANALYTICS + CURATION}
    cpu: dict[str, list[float]] = {n: [] for n in ANALYTICS + CURATION}
    attempted = 0
    passes, pass_cpu = [], []
    m0 = time.time()
    while time.time() - m0 < ctx.seconds:
        order = list(ANALYTICS + CURATION)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        cpu_pass = ctx.sampler.sample()
        for name in order:
            attempted += 1
            spec = specs.get(name)
            if spec is None:
                failures.append(f"{name}: not in the registry")
                continue
            try:
                c0 = ctx.sampler.sample()
                times[name].append(counters.execute(name, spec.fn, sf_dir))
                cpu[name].append(ctx.sampler.sample() - c0)
            except Exception as e:  # a failing query is counted, not fatal
                failures.append(f"{name}: {e!r}"[:300])
        passes.append(time.perf_counter() - t_pass)
        pass_cpu.append(ctx.sampler.sample() - cpu_pass)
    # one pass costs each query's median CPU per execution, so that one
    # execution slowed by a GC or JIT episode does not move it
    cpu_per_pass = sum(float(np.median(c)) for c in cpu.values() if c)

    with tracer.span("check", op="check"):
        failures += check(specs, collected, sf_dir)
    detail = {
        f"{mix}_pass_s": sum(float(np.median(times[n])) for n in names if times[n])
        for mix, names in MIXES.items()
    }
    detail["query_stretch_p95"] = stats.query_stretch_p95(times)
    return {
        "e2e": {"result_latency_s": detail["analytics_pass_s"] + detail["curation_pass_s"],
                "cpu_s_per_result": cpu_per_pass},
        "detail": detail, "layers": counters.layers(), "failures": failures,
        "attempted": attempted + len(ANALYTICS + CURATION),  # + one oracle check each
        "samples": {"passes": len(passes), "pass_s": passes, "pass_cpu_s": pass_cpu,
                    "query_s": times, "query_cpu_s": cpu},
        "generator": {"sf": ctx.scale or SF},
    }


def check(specs, collected, sf_dir: str) -> list[str]:
    """Hash-compare each query's warm-up rows with its DuckDB oracle
    (the repository's own Spark-vs-DuckDB canonicalisation)."""
    from tests.oracle_harness import canonical_rows, duckdb_connection

    failures = []
    con = duckdb_connection(sf_dir)
    try:
        for name in ANALYTICS + CURATION:
            spec = specs.get(name)
            if spec is None:
                failures.append(f"{name}: not in the registry")
                continue
            cols, rows = collected[name]
            if cols is None:
                failures.append(f"{name}: warm-up failed: {rows}"[:300])
                continue
            if spec.oracle is None:
                failures.append(f"{name}: no oracle")
                continue
            res = con.execute(spec.oracle)
            d_cols = [d[0] for d in res.description]
            if sorted(cols) != sorted(d_cols):
                failures.append(f"{name}: columns {sorted(cols)} != oracle {sorted(d_cols)}")
            elif canonical_rows(cols, rows) != canonical_rows(d_cols, res.fetchall()):
                failures.append(f"{name}: rows differ from the DuckDB oracle")
    finally:
        con.close()
    return failures


class Counters:
    """Times one execution (define, then materialise through the
    ``noop`` sink). In the traced run, also records its jobs, stages,
    Catalyst phase times and, after the loop, task metrics."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = common.SparkCounters(ctx.spark)
        self.rows: list[dict] = []

    def execute(self, name: str, fn, sf_dir: str) -> float:
        tracer = self.ctx.tracer
        with tracer.span("query", op=f"{name}-{len(self.rows)}", query=name), self.spark.group(name) as gid:
            t0 = time.perf_counter()
            with tracer.span("plans.define"):
                df = fn(self.ctx.spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span("exec.noop_write"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        if self.ctx.trace:
            row = {"query": name, "define_s": t1 - t0, "exec_s": t2 - t1}
            row["jobs"], row["stages"], row["tasks"] = self.spark.jobs_and_stages(gid)
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # plans the frame's own execution for its phase times
            phases = qe.tracker().phases()
            for p in self.PHASES:
                opt = phases.get(p)
                row[f"{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
            self.rows.append(row)
        return t2 - t0

    def layers(self) -> dict[str, float]:
        """Per mix: the sum over its queries of each query's median per
        execution, i.e. the cost of one pass."""
        if not self.ctx.trace:
            return {}
        stage = self.spark.stage_metrics()
        py_ms = self.spark.python_udf_ms()
        for row in self.rows:
            s = [stage.get(i, {}) for i in row["stages"]]
            tot = lambda k: float(sum(x.get(k, 0) for x in s))  # noqa: E731
            row.update({
                "task_run_ms": tot("executorRunTime"),
                "task_cpu_ms": tot("executorCpuTime") / 1e6,
                "gc_ms": tot("jvmGcTime"),
                "shuffle_write_bytes": tot("shuffleWriteBytes"),
                "spill_bytes": tot("diskBytesSpilled"),
                "input_bytes": tot("inputBytes"),
                "python_udf_ms": float(sum(py_ms.get(j, 0.0) for j in row["jobs"])),
                "n_jobs": float(len(row["jobs"])), "n_stages": float(len(row["stages"])),
            })
        out: dict[str, float] = {}
        keys = {
            "plans.define_s": "define_s", "exec.wall_s": "exec_s",
            "catalyst.analysis_ms": "analysis_ms", "catalyst.optimization_ms": "optimization_ms",
            "catalyst.planning_ms": "planning_ms", "exec.jobs": "n_jobs",
            "exec.stages": "n_stages", "exec.tasks": "tasks",
            "exec.task_run_ms": "task_run_ms", "exec.task_cpu_ms": "task_cpu_ms",
            "exec.gc_ms": "gc_ms", "exec.shuffle_write_bytes": "shuffle_write_bytes",
            "exec.spill_bytes": "spill_bytes", "exec.python_udf_ms": "python_udf_ms",
            "sources.batch.input_bytes": "input_bytes",
        }
        for mix, names in MIXES.items():
            for metric, key in keys.items():
                out[f"{metric}.{mix}"] = float(sum(
                    np.median([r[key] for r in self.rows if r["query"] == n])
                    for n in names if any(r["query"] == n for r in self.rows)
                ))
        return out
