"""Benchmark entry point: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1``, run from the root of a checkout.

Prints one JSON line as its last line of output:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1``
the per-layer ones.

A run is:

1. prep, only when the input caches are missing: build the documents and
   the pages corpus in a Spark process of its own (``inputs.py``);
2. lay the workload's inputs out for ``--seed`` (row order and file split);
3. one fresh sample process (``sample.py``) pinned to 4 cores running
   ``local[4]``: set-up, one warm-up operation, then a fixed number of timed
   operations.  The number is ``round(S / NOMINAL_OP_S[W])``, fixed for a
   given ``--seconds``, so every timed operation sits at a fixed position in
   its process.  ``--trace 1`` runs the same schedule with tracing on.

Everything the benchmark writes goes under ``.bench_build/perfbench/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SAMPLE_TIMEOUT_S = 170

# seconds one timed operation is budgeted for; sets the operation count
NOMINAL_OP_S = {"crawl_loop": 30.0, "hygiene": 10.0}
WORKLOADS = ("crawl_loop", "hygiene")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def _group_alive(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rfind(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(name))
    return pids


def run_child(cmd: list[str], env: dict, log: str, timeout: float) -> None:
    """Run ``cmd`` in a session of its own; afterwards kill whatever of its
    process group is left (JVM, Python workers) and wait until it is gone."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                env=env, cwd=WORK, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            deadline = time.time() + 20
            while True:
                alive = _group_alive(proc.pid)
                if not alive:
                    break
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.poll()
                if time.time() > deadline:
                    fail(f"processes {alive} of {cmd[1]} did not stop")
                time.sleep(0.1)
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"{' '.join(cmd[:2])} {'timed out' if rc is None else f'exited {rc}'}"
             f"\n--- log tail ---\n{tail}")


def sample(workload: str, env: dict, ops: int, trace: bool,
           drop_row_op: int | None = None) -> dict:
    """Run one sample process; ``drop_row_op`` is the test hook of
    ``sample.py``'s ``--drop-row-op``."""
    tag = "traced" if trace else "plain"
    out = os.path.join(WORK, f"sample-{workload}-{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.join(HERE, "sample.py"),
           "--workload", workload, "--inputs", os.path.join(WORK, "layout"),
           "--work", WORK, "--ops", str(ops),
           "--out", out, "--t-spawn", repr(time.time())]
    if trace:
        cmd.append("--trace")
    if drop_row_op is not None:
        cmd += ["--drop-row-op", str(drop_row_op)]
    run_child(cmd, env,
              os.path.join(WORK, f"sample-{workload}-{tag}.log"),
              SAMPLE_TIMEOUT_S)
    with open(out) as f:
        return json.load(f)


def child_env() -> dict:
    """Environment of the prep and sample processes: engine importable by
    the Python workers, every scratch file inside the checkout.  Scratch
    left by an earlier, killed run is removed."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name in ("tmp", "spark-local") or name.startswith("store-"):
            shutil.rmtree(os.path.join(WORK, name))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "spark-local"))
    return dict(os.environ,
                PYTHONPATH=os.pathsep.join([ROOT, HERE]),
                PYSPARK_PYTHON=sys.executable,
                SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
                TMPDIR=tmp,
                # no hsperfdata files in /tmp
                JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def prepare(workload: str, seed: int, env: dict) -> str:
    """Build the pages cache if the workload needs it and it is missing
    (outside every sample), then lay the workload's input out for ``seed``;
    returns the layout dir."""
    import inputs

    if workload == "crawl_loop":
        if not inputs.cache_ready(WORK):
            run_child([sys.executable, os.path.join(HERE, "inputs.py"), WORK],
                      env, os.path.join(WORK, "prep.log"), 800)
        name, src = "pages", os.path.join(inputs.cache_dir(WORK), "pages")
    else:
        name, src = "docs", os.path.join(inputs.SF01, "documents.parquet")
    layout = os.path.join(WORK, "layout")
    inputs.write_layout(src, os.path.join(layout, name), seed)
    return layout


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(res: dict) -> dict:
    ok = res["attempted"] - res["failed"]
    return {
        "setup_s": res["setup_s"],
        "rows_per_s": _median([r / w for r, w in zip(res["rows"], res["op_wall_s"])]),
        "step_p50_s": _median(res["steps"]),
        "cpu_s": _median(res["op_cpu_s"]),
        "ok_rate": ok / res["attempted"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "s_crawler_spark")):
        fail(f"no s_crawler_spark package under {ROOT}: run from a checkout")
    from sample import CORES

    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < CORES:
        fail(f"needs {CORES} cores, this process may use {len(cpus)}")
    os.sched_setaffinity(0, cpus[:CORES])  # children inherit the pinning

    env = child_env()
    prepare(args.workload, args.seed, env)

    # the same number of timed operations with and without tracing, so the
    # traced medians are taken at the untraced runs' positions
    ops = max(1, round(args.seconds / NOMINAL_OP_S[args.workload]))
    if args.trace:
        res = sample(args.workload, env, ops, trace=True)
        values = res.get("layers", {})
        with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as f:
            json.dump(res.get("spans", []), f, indent=1)
        wanted = spec["per_layer"]
    else:
        res = sample(args.workload, env, ops, trace=False)
        values = end_to_end(res)
        wanted = spec["end_to_end"]

    for e in res["errors"]:
        print(f"perfbench: operation failed: {e}", file=sys.stderr)
    # a layer the workload does not run did none of that layer's work
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
