"""The measured process of one benchmark run; `run.py` starts it.

    python3 perfbench/worker.py --workload W --seed N --seconds S --trace 0|1
                                --t0 MONOTONIC --out RESULT.json [--trace-out SPANS.json]

Sets the program up (timed from `--t0`, the parent's clock reading just
before it started this process), then runs the workload as a closed loop:
one client, one call at a time, no thread pool.

1. cold pass: every call once, in listed order (`cold_pass_s`);
2. correctness gate, untimed: each DataFrame the cold pass built is
   collected and fingerprinted against its DuckDB oracle (`gate.py`);
   this also warms the JIT for the steady passes;
3. steady passes in an order the seed permutes, until `--seconds` of
   passes have run (at least 2; 3 when traced).

With `--trace 1` every other steady pass is traced (spans, one Spark job
group per call phase, JVM GC readings) and the untraced passes between
them give the tracing overhead.  Untraced passes only read wall clocks
and /proc at pass boundaries.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import sysprobe, workloads  # noqa: E402
from perfbench.trace import Tracer, self_time  # noqa: E402

DATA_SF = "sf0.01"


class Runner:
    """Times calls at the program's public entry points."""

    def __init__(self, spark, sf_dir: str, tracer: Tracer | None = None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.jvm = sysprobe.Jvm(spark) if tracer else None
        self._passes = 0

    def _call(self, call, pass_span, tag: str):
        """Time one call's build and exec; returns (record, DataFrame)."""
        rec = {"id": call.id, "layer": call.layer, "ok": True}
        phase, df = "build", None
        try:
            for phase in ("build", "exec"):
                span = nullcontext()
                if pass_span is not None:
                    self.sc.setJobGroup(f"{tag}/{call.id}/{phase}", call.id)
                    span = self.tracer.span(f"{call.id}.{phase}", pass_span)
                t = time.perf_counter()
                try:
                    with span:
                        if phase == "build":
                            df = call.build(self.spark, self.sf_dir)
                        else:
                            df.write.mode("overwrite").format("noop").save()
                finally:
                    rec[f"{phase}_s"] = time.perf_counter() - t
        except Exception as e:  # a failed call is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{phase}: {type(e).__name__}: {str(e)[:300]}"
            df = None
        return rec, df

    def run_pass(self, order, kind: str, traced: bool, run_span=None, outputs=None) -> dict:
        """One pass over `order`; built DataFrames go to `outputs` if given."""
        self._passes += 1
        tag = f"{kind}{self._passes}"
        cpu0 = sysprobe.tree_cpu()
        gc0 = self.jvm.gc_s() if traced else 0.0
        t = time.perf_counter()
        if traced:
            with self.tracer.span(f"pass.{kind}", run_span) as ps:
                done = [self._call(c, ps, tag) for c in order]
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            done = [self._call(c, None, tag) for c in order]
        wall = time.perf_counter() - t
        cpu1 = sysprobe.tree_cpu()
        samples = [rec for rec, _ in done]
        if outputs is not None:
            outputs.update((rec["id"], df) for rec, df in done if rec["ok"])
        rec = {
            "kind": kind,
            "traced": traced,
            "wall_s": wall,
            "cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "samples": samples,
        }
        if traced:
            rec["gc_s"] = self.jvm.gc_s() - gc0
            rec["self_s"] = self_time(ps, self.tracer.spans)
            for s in samples:
                for phase in ("build", "exec"):
                    counts = sysprobe.group_counts(self.sc, f"{tag}/{s['id']}/{phase}")
                    s.update({f"{phase}_{k}": v for k, v in counts.items()})
        return rec


def check_all(calls, outputs: dict, gate) -> dict[str, str]:
    """Untimed gate over the DataFrames a pass built; call id -> why wrong."""
    wrong = {}
    for c in calls:
        try:
            err = gate.check(c, outputs[c.id]) if c.id in outputs else "no output"
        except Exception as e:  # an exception is a wrong answer here too
            err = f"{type(e).__name__}: {str(e)[:300]}"
        if err:
            wrong[c.id] = err
    return wrong


def steady_passes(runner, calls, seed: int, seconds: float, trace: bool, run_span=None):
    """Seed-permuted passes until `seconds` of them have run."""
    rng = random.Random(seed)
    min_passes = 3 if trace else 2
    passes: list[dict] = []
    t0 = time.monotonic()
    while len(passes) < min_passes or (
        time.monotonic() - t0 + statistics.mean(p["wall_s"] for p in passes) <= seconds
    ):
        order = list(calls)
        rng.shuffle(order)
        traced = trace and len(passes) % 2 == 0
        passes.append(runner.run_pass(order, "steady", traced, run_span))
    return passes


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def end_to_end(cold: dict, passes: list[dict], wrong: dict, setup_s: float) -> dict:
    """The end-to-end metrics, from untraced steady passes."""
    plain = [p for p in passes if not p["traced"]]
    per_call: dict[str, list[float]] = {}
    for p in plain:
        for s in p["samples"]:
            if s["ok"] and s["id"] not in wrong:
                per_call.setdefault(s["id"], []).append(s["build_s"] + s["exec_s"])
    attempted, failed = counts(cold, passes, wrong)
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "pass_s": (sum(statistics.median(v) for v in per_call.values()), "s"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
    }


def counts(cold: dict, passes: list[dict], wrong: dict) -> tuple[int, int]:
    samples = [s for p in [cold, *passes] for s in p["samples"]]
    failed = sum(1 for s in samples if not s["ok"] or s["id"] in wrong)
    return len(samples), failed


def per_layer(setup: dict, cold: dict, passes: list[dict], cores: int,
              heap_peak: float, peak_rss: dict) -> dict:
    """The per-layer metrics from traced steady passes (medians per pass)."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]

    def per_pass(fn):
        return _median(fn(p) for p in traced)

    def layer_sum(p, key, layer=None):
        return sum(s.get(key, 0) for s in p["samples"] if layer in (None, s["layer"]))

    m = {
        "session.get_spark_s": (setup["session.get_spark_s"], "s"),
        "engine.init_s": (setup["engine.init_s"], "s"),
        "registry.import_s": (setup["registry.import_s"], "s"),
        "registry.build_s": (per_pass(lambda p: layer_sum(p, "build_s", "registry")), "s"),
        "registry.build_jobs": (per_pass(lambda p: layer_sum(p, "build_jobs", "registry")), "count"),
        "api.build_s": (per_pass(lambda p: layer_sum(p, "build_s", "api")), "s"),
        "api.build_jobs": (per_pass(lambda p: layer_sum(p, "build_jobs", "api")), "count"),
        "operators.exec_s": (per_pass(lambda p: layer_sum(p, "exec_s")), "s"),
        "operators.exec_jobs": (per_pass(lambda p: layer_sum(p, "exec_jobs")), "count"),
        "operators.exec_stages": (per_pass(lambda p: layer_sum(p, "exec_stages")), "count"),
        "operators.exec_tasks": (per_pass(lambda p: layer_sum(p, "exec_tasks")), "count"),
        "operators.parallel_eff": (
            per_pass(lambda p: sum(p["cpu_s"].values()) / (p["wall_s"] * cores)), "ratio"),
        "sources_sinks.xbrl_parse_s": (
            sum(s.get("build_s", 0) for s in cold["samples"] if s["id"] == "src_xbrl_etl"), "s"),
        "spark.jvm_cpu_s": (per_pass(lambda p: p["cpu_s"]["jvm"]), "s"),
        "spark.pyworker_cpu_s": (per_pass(lambda p: p["cpu_s"]["pyworker"]), "s"),
        "driver.cpu_s": (per_pass(lambda p: p["cpu_s"]["driver"]), "s"),
        "spark.gc_s": (per_pass(lambda p: p["gc_s"]), "s"),
        "spark.heap_peak_mb": (heap_peak, "MB"),
        "spark.jvm_peak_rss_mb": (peak_rss["jvm"], "MB"),
        "spark.pyworker_peak_rss_mb": (peak_rss["pyworker"], "MB"),
        "driver.peak_rss_mb": (peak_rss["driver"], "MB"),
        "trace.self_s": (per_pass(lambda p: p["self_s"]), "s"),
        "trace.overhead_s": (
            per_pass(lambda p: p["wall_s"]) - _median(p["wall_s"] for p in plain), "s"),
    }
    for cid in workloads.all_call_ids():
        for key, unit in (("build_s", "s"), ("exec_s", "s"),
                          ("build_jobs", "count"), ("exec_tasks", "count")):
            m[f"call.{cid}.{key}"] = (_median(
                s[key] for p in traced for s in p["samples"]
                if s["id"] == cid and s["ok"] and key in s), unit)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args(argv)

    t = time.monotonic()
    from secdb_spark.catalog import DEFAULT_SF_DIR
    from secdb_spark.engine import Engine
    from secdb_spark.registry import all_queries

    queries = all_queries()
    t_reg = time.monotonic()
    from secdb_spark.session import get_spark

    spark = get_spark("perfbench")
    t_spark = time.monotonic()
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), DATA_SF)
    Engine(sf_dir, spark=spark)
    t_ready = time.monotonic()
    setup = {
        "registry.import_s": t_reg - t,
        "session.get_spark_s": t_spark - t_reg,
        "engine.init_s": t_ready - t_spark,
    }

    from perfbench.gate import Gate

    calls = workloads.calls(args.workload, queries)
    tracer = Tracer() if args.trace else None
    runner = Runner(spark, sf_dir, tracer)
    gate = Gate(sf_dir)
    with tracer.span("run", workload=args.workload, seed=args.seed) if tracer \
            else nullcontext() as run_span:
        outputs: dict = {}
        cold = runner.run_pass(calls, "cold", bool(args.trace), run_span, outputs)
        t_gate = time.monotonic()
        wrong = check_all(calls, outputs, gate)
        del outputs
        t_window = time.monotonic()
        passes = steady_passes(
            runner, calls, args.seed, args.seconds, bool(args.trace), run_span)
        t_end = time.monotonic()
    peak_rss = sysprobe.tree_peak_rss_mb()
    jvm = sysprobe.Jvm(spark)
    attempted, failed = counts(cold, passes, wrong)
    stamps = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.version(),
        "python": sys.version.split()[0],
        "sf_dir": sf_dir,
        "steady_passes": len(passes),
        "gate_s": t_window - t_gate,
        "window_s": t_end - t_window,
        "peak_rss_mb": peak_rss,
        "pass_cpu_s": _median(sum(p["cpu_s"].values()) for p in passes if not p["traced"]),
    }
    result = {
        "correct": not wrong and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "wrong": wrong,
        "errors": sorted({s["error"] for p in [cold, *passes] for s in p["samples"] if "error" in s}),
        "stamps": stamps,
        "end_to_end": end_to_end(cold, passes, wrong, t_ready - args.t0),
    }
    if args.trace:
        result["per_layer"] = per_layer(
            setup, cold, passes, spark.sparkContext.defaultParallelism,
            jvm.heap_peak_mb(), peak_rss)
        if args.trace_out:
            tracer.write(args.trace_out, stamps=stamps, setup=setup, passes=[
                {k: v for k, v in p.items() if k != "samples"} | {"calls": p["samples"]}
                for p in [cold, *passes]])
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
