"""SECDB engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload headline|api_secdb \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout that holds the program (`secdb_spark/`,
`fixtures/`).  Inputs are the program's fixed sf0.01 catalog tables (the
sibling of its default data directory) and its 104 XBRL fixture filings; the seed permutes the call order of every
steady pass.  Spark runs on local[nproc].

The measured program runs in a child process (`worker.py`) whose temp
dirs, Spark local dirs and warehouse point at a per-run directory under
`.perfbench_run/`, removed at exit; every process it started is stopped
and waited for.  Traced runs leave their spans in `.perfbench_out/`.

Standard output: a stamp line (live session and host readings), then one
JSON line {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (`--trace 0`) or the per-layer ones (`--trace 1`).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import sysprobe  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 170  # the run's hard limit, set-up and teardown included


def reap_session(sid: int, grace_s: float = 10.0) -> None:
    """Stop every process of session `sid` and wait until none is left."""
    sig, deadline = signal.SIGTERM, time.monotonic() + grace_s
    while pids := sysprobe.session_pids(sid):
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def run_worker(args, run_dir: str, deadline: float) -> dict:
    """Start the measured process, wait for it, return its result."""
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "worker.log")
    env = dict(
        os.environ,
        TMPDIR=run_dir,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # the JVM keeps its perf counters off /tmp and its temp files here
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir} -XX:+PerfDisableSharedMem",
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out,
    ]
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        cmd += ["--trace-out", os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")]
    with open(log, "w") as fh:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)], cwd=ROOT, env=env, stdout=fh,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=max(deadline - time.monotonic(), 0))
        except subprocess.TimeoutExpired:
            pass
        finally:
            reap_session(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker exited with {proc.returncode}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "secdb_spark", "registry.py")):
        print("perfbench: no secdb_spark/ program in this checkout", file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        res = run_worker(args, run_dir, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    stamps = {
        **res["stamps"],
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "git_commit": _git_commit(),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "fail_ratio": res["failed"] / res["attempted"],
    }
    for why in res["wrong"].values():
        print(f"perfbench: WRONG {why}", file=sys.stderr)
    for err in res["errors"]:
        print(f"perfbench: ERROR {err}", file=sys.stderr)
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({"stamps": stamps}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
