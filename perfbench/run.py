"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest          # every workload, tiny size

Generates the workload's input from the seed (outside any timed region),
runs it at local[4] in fresh child processes (perfbench/child.py), checks the
outputs against the oracle, and prints as the last stdout line one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is the run's stamp (nproc, loadavg, source
revision, seed, corpus content hash, sample counts). Exits non-zero on any
oracle mismatch or failed turn. perfbench/README.md documents the workloads
and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
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
WORK = os.path.join(HERE, ".work")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
# the program under test; without it the benchmark refuses to run
REQUIRED = ["pdf_extraction_ai_agent_spark/__init__.py", "bench.py",
            "scripts/bench_extract_child.py", "__spark_entry__.py"]
DEADLINE_S = 170  # whole run, first-build allowance aside


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # fields 3 and 6 of stat: state and session id; a zombie has
            # ended and only waits for its new parent to reap it
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry))
        except (OSError, ValueError, IndexError):
            continue
    return pids


def _stop_session(sid: int) -> None:
    """Kill every process left in a child's session (its JVM and python
    workers; nothing there needs an orderly shutdown) and wait until none
    remains."""
    deadline = time.monotonic() + 30
    while pids := _session_pids(sid):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} of session {sid} survived SIGKILL")
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _child(mode: str, args, inp: str, deadline: float, trace_out: str | None = None) -> dict:
    """Run perfbench/child.py in a new session; return its result object.

    The child's output goes to files, not pipes: its JVM may outlive it for
    a moment and would hold a pipe open."""
    cmd = [sys.executable, os.path.join(HERE, "child.py"), mode,
           "--workload", args.workload, "--input", inp, "--work", WORK,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--size", args.size]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    tmp = os.path.join(WORK, "tmp")
    # what the child and its JVMs write stays under the work dir: no JVM
    # perf-data files in the system temp dir, whatever java.io.tmpdir says
    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable, TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", PERFBENCH_T0=repr(time.time()))
    log = os.path.join(WORK, "logs", f"{args.workload}-s{args.seed}-{mode}")
    t0 = time.monotonic()
    with open(log + ".out", "w") as out, open(log + ".log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=out, stderr=err,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"{mode} child ran past the deadline (log: {log}.log)")
        finally:
            _stop_session(proc.pid)
            proc.wait()
    with open(log + ".out") as f:
        for line in reversed(f.read().splitlines()):
            if line.startswith("PERFBENCH_RESULT "):
                res = json.loads(line.split(" ", 1)[1])
                res["child_wall_s"] = time.monotonic() - t0
                return res
    raise RuntimeError(f"{mode} child exited {proc.returncode} without a result (log: {log}.log)")


def _source_revision() -> dict:
    """git sha when the checkout is a git repository, and always a content
    hash of the package sources, so runs of the same code are matchable."""
    sha = None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pdf_extraction_ai_agent_spark")
    for dirpath, dirnames, names in sorted(os.walk(pkg)):
        dirnames.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


def _metric_specs() -> tuple[dict, dict]:
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"]}, \
           {m["name"]: m["unit"] for m in spec["per_layer"]}


def run_once(args) -> int:
    from workloads import WORKLOADS, generate, sized

    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    # Spark temporary files of earlier runs: their JVMs were killed, not stopped
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    for d in ("tmp", "logs", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    e2e_units, layer_units = _metric_specs()
    w = sized(WORKLOADS[args.workload], args.size)
    load_before = os.getloadavg()
    inp = generate(w, args.seed, WORK)
    t_generated = time.monotonic()

    from bench import _corpus_content_hash

    corpus_hash = _corpus_content_hash(os.path.join(inp, "transcripts"))
    t_hashed = time.monotonic()

    if args.trace:
        trace_out = os.path.join(WORK, "traces", f"{w.name}-s{args.seed}.json")
        res = _child("ledger", args, inp, deadline, trace_out)
        values = {k: res[k] for k in layer_units if k in res}
        values["jvm.peak_rss_mb"] = res["memory"]["jvm_peak_rss_mb"]
        units = layer_units
        attempted = res["rows"]
        failed = res["job_errors"]  # turns the production job failed
    else:
        res = _child("measure", args, inp, deadline)
        # the median pass of the window, after the warm phase. CPU time, not
        # wall: on a shared host a neighbour's load doubles a pass's wall
        # (the hypervisor steals the VM's CPUs) and moves its CPU time far less
        values = {
            "setup_s": res["setup_s"],
            "cpu_us_per_turn": statistics.median(
                cpu / n * 1e6 for n, cpu in zip(res["turns"], res["pass_cpu"])),
            "py_worker_peak_rss_mb": res["memory"]["py_workers_peak_rss_mb"],
        }
        # wall throughput, for the stamp only
        res["turns_per_s"] = statistics.median(
            n / wall for n, wall in zip(res["turns"], res["passes"]))
        units = e2e_units
        attempted = sum(res["turns"])
        failed = sum(res["errors"])
        # every timed pass must see every input row and agree on the output
        failed += sum(abs(n - res["rows"]) for n in res["turns"])
        if any(d != res["digests"][0] for d in res["digests"]):
            failed += 1
    check = res["check"]
    failed += check["mismatches"] + (check["checked"] == 0)  # an empty sample checks nothing
    attempted += check["checked"]
    if "committed_rows" in res:
        failed += abs(res["committed_rows"] - res["rows"])  # every row committed
    correct = failed == 0

    stamp = {
        "workload": w.name, "seed": args.seed, "size": args.size, "trace": args.trace,
        "nproc": os.cpu_count(), "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(), **_source_revision(),
        "corpus_hash": corpus_hash, "rows": res["rows"],
        "setup_s": res["setup_s"], "pass_walls": res.get("passes"),
        "pass_cpu_s": res.get("pass_cpu"), "pass_cpu_jvm_s": res.get("pass_cpu_jvm"),
        "pass_steal_s": res.get("pass_steal"),
        "turns_per_s": res.get("turns_per_s"),
        "memory": res["memory"], "warm": res["warm"], "check": check,
        "generate_s": t_generated - t_start, "hash_s": t_hashed - t_generated,
        "child_wall_s": res["child_wall_s"],
        "wall_s": time.monotonic() - t_start,
    }
    with open(os.path.join(WORK, "logs", f"{w.name}-s{args.seed}-t{args.trace}.stamp.json"), "w") as f:
        json.dump(stamp, f, indent=1)
    print(json.dumps({"stamp": stamp}))
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


def selftest() -> int:
    """Every workload at tiny size, both modes: checks the harness, not the
    numbers."""
    from workloads import WORKLOADS

    e2e_units, layer_units = _metric_specs()
    for name in sorted(WORKLOADS):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=DEADLINE_S + 10)
            last = (p.stdout.strip().splitlines() or ["{}"])[-1]
            out = json.loads(last)
            want = layer_units if trace else e2e_units
            ok = (p.returncode == 0 and out.get("correct") is True
                  and set(out.get("metrics", {})) == set(want))
            print(f"[{'OK' if ok else 'FAIL'}] {name} trace={trace}", flush=True)
            if not ok:
                sys.stderr.write(p.stderr[-4000:])
                return 1
    print("SELFTEST OK")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    missing = [p for p in REQUIRED + ["BENCHMARK.json"] if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if args.selftest:
        return selftest()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
