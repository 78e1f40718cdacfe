"""Layer benchmark for the ScienceBeam Spark engine.

Run from the repository root::

    python3 layerbench/run.py --workload convert --seed 1 --seconds 20 --trace 0

One run generates the workload's inputs from ``--seed``, starts one worker
process with one ``local[$(nproc)]`` session, runs a fixed number of
untimed warm-up passes and then a fixed number of timed passes (the same on
every commit; ``--seconds`` only bounds how long the timed passes may take
before the run is aborted), and checks every pass's results against the
DuckDB oracle of each query. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones declared in
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer ones from a
traced run, which alternates plain and traced passes and reports the
difference as ``trace.overhead_ratio``. The line before it starts with
``layerbench-detail`` and holds the per-pass counts, the host gauge and the
bytes the program left in its private directories.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from datagen import generate  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

WORKER_TIMEOUT_S = 165
DRIVER_MEMORY = "2g"
PROGRAM_FILES = ("sciencebeam_parser_spark/__init__.py", "tools/check_correctness.py")


def host_calib_s(reps: int = 3) -> float:
    """Phase gauge: median seconds of a fixed pure-Python loop."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def declared_metrics(repo: str, trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(repo, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def pinned_env(repo: str, work: str) -> dict[str, str]:
    """The environment the program reads, pinned and private to one run."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # a fixed-size heap, so peak memory does not follow heap resizing
        SPARK_DRIVER_EXTRA_JAVA_OPTIONS=(
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        # the short-lived JVM that spark-submit starts to build the command
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LOCAL_IP="127.0.0.1",
        SBP_STREAM_CHECKPOINT_DIR=os.path.join(work, "stream"),
        TMPDIR=tmp,
        PYTHONPATH=repo,
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


class RssSampler(threading.Thread):
    """Polls the resident memory of a process tree until stopped."""

    def __init__(self, pid: int, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.period_s = pid, period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, procfs.memory_bytes(self.pid))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def score(passes: list[dict], expected: dict[str, str]) -> tuple[int, int]:
    """(attempted, matched) over every pass: a query that raised or whose
    fingerprint differs from its oracle's is a failure."""
    attempted = matched = 0
    for p in passes:
        for q, rec in p["queries"].items():
            attempted += 1
            matched += rec.get("fp") is not None and rec["fp"] == expected[q]
    return attempted, matched


def pass_counts(p: dict) -> dict:
    """The counts that must repeat exactly from one timed pass to the next."""
    return {
        "jobs": p["jobs"],
        "batches": p["batches"],
        "rows": {q: r.get("rows") for q, r in p["queries"].items()},
    }


def median_of(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes)


def end_to_end(res: dict, input_rows: int, spawn_t: float,
               peak_rss: int, attempted: int, matched: int) -> dict[str, float]:
    timed = [p for p in res["passes"] if p["timed"]]
    job_s = median_of(timed, "wall_s")
    return {
        "setup_s": res["first_timed_monotonic"] - spawn_t,
        "job_s": job_s,
        "rows_per_s": input_rows / job_s,
        "cpu_s": median_of(timed, "cpu_s"),
        "peak_rss_mb": peak_rss / 2**20,
        "success_ratio": matched / attempted,
    }


def per_layer(res: dict, calib_s: float, load: float) -> dict[str, float]:
    passes = res["passes"]
    traced = [p for p in passes if p["timed"] and p["traced"]]
    # plain passes after the first traced one: the warm-up tail makes the
    # overhead an upper bound rather than hiding it behind slower passes
    plain = [p for p in passes if p["timed"] and not p["traced"]
             and p["pass"] > traced[0]["pass"]]
    out = {
        k: statistics.median(p["layer"][k] for p in traced)
        for k in traced[0]["layer"]
    }
    # bytes newly stored by each traced pass: blocks are kept for the session
    grown = [p["retained_bytes"] - passes[p["pass"] - 1]["retained_bytes"] for p in traced]
    last = passes[-1]
    out.update({
        "session.start_s": res["session_start_s"],
        "session.warmup_s": res["warmup_s"],
        "materialize.bytes": float(statistics.median(grown)),
        "materialize.retained_rdds": float(last["retained_rdds"]),
        "materialize.retained_bytes": float(last["retained_bytes"]),
        "jvm.gc_s": res["setup_gc_s"],
        "jvm.jit_compile_s": res["setup_jit_s"],
        "host.calib_s": calib_s,
        "host.loadavg": load,
        "trace.overhead_ratio": median_of(traced, "wall_s") / median_of(plain, "wall_s") - 1.0,
    })
    return out


def run_once(repo: str, wl: Workload, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """One run; returns (final result line, detail record)."""
    workload = wl.name
    units = declared_metrics(repo, trace)
    calib_s, load = host_calib_s(), procfs.loadavg()
    work = os.path.join(repo, ".layerbench", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    private = ("tmp", "local", "stream")
    for sub in ("data", "passes") + private:
        os.makedirs(os.path.join(work, sub))
    try:
        data_dir = os.path.join(work, "data")
        table_rows = generate(data_dir, seed, wl.sizes)
        cfg = {
            "repo": repo, "workload": workload, "queries": list(wl.queries),
            "data_dir": data_dir, "pass_root": os.path.join(work, "passes"),
            "tmp_dir": os.path.join(work, "tmp"),
            "stream_dir": os.path.join(work, "stream"),
            "seconds": seconds, "trace": trace,
            "result_path": os.path.join(work, "result.json"),
        }
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w", encoding="utf-8") as f:
            json.dump(cfg, f)
        log_path = os.path.join(work, "worker.log")
        with open(log_path, "wb") as log:
            spawn_t = time.monotonic()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=work, env=pinned_env(repo, work), stdout=log, stderr=log,
                start_new_session=True,
            )
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                # the JVM and Python workers live in the worker's session:
                # stop whatever is left of it and wait until all of it is gone
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
                sampler.stop()
                deadline = time.monotonic() + 30
                while procfs.group_alive(proc.pid) and time.monotonic() < deadline:
                    time.sleep(0.1)
        if code != 0:
            with open(log_path, "rb") as f:
                tail = f.read()[-4000:].decode(errors="replace")
            raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
        with open(cfg["result_path"], encoding="utf-8") as f:
            res = json.load(f)
        spans = res.pop("spans", None)
        attempted, matched = score(res["passes"], res["expected"])
        timed = [p for p in res["passes"] if p["timed"]]
        counts = [pass_counts(p) for p in timed]
        repeat_ok = all(c == counts[0] for c in counts)
        if trace:
            metrics = per_layer(res, calib_s, load)
        else:
            metrics = end_to_end(
                res, sum(table_rows[t] for t in wl.rows_tables), spawn_t,
                sampler.peak, attempted, matched)
        undeclared = set(metrics) - set(units)
        missing = set(units) - set(metrics)
        if undeclared or missing:
            raise RuntimeError(f"metrics not as declared: undeclared {sorted(undeclared)}, "
                               f"missing {sorted(missing)}")
        left = {s: procfs.usage([os.path.join(work, s)])[1] for s in private}
        if spans is not None:
            trace_path = os.path.join(repo, ".layerbench", f"trace-{workload}-s{seed}.json")
            with open(trace_path, "w", encoding="utf-8") as f:
                json.dump({"workload": workload, "seed": seed, "metrics": metrics,
                           "spans": spans}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = {
        "workload": workload, "seed": seed, "trace": trace,
        "host.calib_s": calib_s, "host.loadavg": load,
        "input_rows": table_rows, "repeat_ok": repeat_ok,
        "leftover_bytes": left,
        "passes": [
            {"pass": p["pass"], "timed": p["timed"], "traced": p["traced"],
             "wall_s": round(p["wall_s"], 4), "cpu_s": round(p["cpu_s"], 3),
             "retained_rdds": p["retained_rdds"], "retained_bytes": p["retained_bytes"],
             "query_s": {q: round(r["s"], 4) for q, r in p["queries"].items()},
             **pass_counts(p)}
            for p in res["passes"]
        ],
    }
    line = {
        "correct": matched == attempted and repeat_ok,
        "attempted": attempted,
        "failed": attempted - matched,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    return line, detail


def main() -> None:
    ap = argparse.ArgumentParser(description="ScienceBeam Spark layer benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    repo = os.getcwd()
    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(repo, p))]
    if missing:
        sys.exit(f"layerbench: run from the repository root; not found: {missing}")
    line, detail = run_once(repo, WORKLOADS[args.workload], args.seed, args.seconds,
                            bool(args.trace))
    if not line["correct"]:
        print(f"layerbench: results incorrect: {line['failed']} of {line['attempted']} "
              f"failed, counts repeat: {detail['repeat_ok']}", file=sys.stderr)
    print("layerbench-detail " + json.dumps(detail, separators=(",", ":")))
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
