"""One benchmark run inside one process: one ``local[N]`` Spark session and
one driver thread that issues the workload's queries in order, each
waiting for the previous one (a closed loop, like one batch job).

Usage (``run.py`` starts it; it is not meant to be run by hand)::

    python3 layerbench/worker.py CONFIG_JSON

The config names the repository root, the workload's queries, the
generated input directory, where per-pass input copies go, ``--seconds``
and whether the run is traced. The worker writes raw per-pass records as
JSON to the config's ``result_path``; ``run.py`` turns them into metrics
and checks them against the oracles.

Every pass reads its inputs through a fresh directory of hard links with
its own basename, so the engine's per-``(session, input dir)`` memos and
per-basename fixture corpora miss on every pass and each pass does the
same work.
"""
from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback

from procfs import cpu_seconds, usage

# The same on every commit and every workload. One warm-up pass takes the
# JVM's start-up compilation out of the timed passes (DESIGN.json,
# warmup_curve); three timed passes give a median that drops one outlier.
WARMUP_PASSES = 1
TIMED_PASSES = 3
# --seconds is not a budget: the run is aborted, without a result, once the
# timed passes have taken this many times --seconds
GUARD_FACTOR = 4


def _no_span(name: str, **attrs):
    return contextlib.nullcontext()


def _link_inputs(src: str, dst: str) -> None:
    os.makedirs(dst)
    for name in sorted(os.listdir(src)):
        os.link(os.path.join(src, name), os.path.join(dst, name))


def _stream_totals(events: list) -> dict[str, float]:
    out = {
        "streaming.batches": float(len(events)),
        "streaming.input_rows": 0.0, "streaming.add_batch_s": 0.0,
        "streaming.wal_commit_s": 0.0, "streaming.commit_offsets_s": 0.0,
        "streaming.query_planning_s": 0.0, "streaming.state_commit_s": 0.0,
    }
    last: dict[str, object] = {}
    for p in events:
        d = p.durationMs
        out["streaming.input_rows"] += p.numInputRows
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        out["streaming.commit_offsets_s"] += d.get("commitOffsets", 0) / 1e3
        out["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["streaming.state_commit_s"] += sum(
            s.commitTimeMs for s in p.stateOperators) / 1e3
        last[str(p.runId)] = p
    # state size is what each query holds after its last batch
    out["streaming.state_rows"] = float(sum(
        s.numRowsTotal for p in last.values() for s in p.stateOperators))
    out["streaming.state_memory_bytes"] = float(sum(
        s.memoryUsedBytes for p in last.values() for s in p.stateOperators))
    return out


def oracle_fingerprints(data_dir: str, queries: list[str]) -> dict[str, str]:
    """DuckDB oracle fingerprint of each query over the generated inputs."""
    import duckdb
    from check_correctness import result_fingerprint
    from sciencebeam_parser_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(data_dir)):
            con.execute(f"CREATE VIEW {name.removesuffix('.parquet')} AS "
                        f"SELECT * FROM '{os.path.join(data_dir, name)}'")
        out = {}
        for q in queries:
            res = con.execute(REGISTRY[q].oracle)
            out[q] = result_fingerprint([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


class Worker:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.traced = bool(cfg["trace"])
        sys.path[:0] = [cfg["repo"], os.path.join(cfg["repo"], "tools")]
        from check_correctness import result_fingerprint
        from sciencebeam_parser_spark.queries import REGISTRY
        from sciencebeam_parser_spark.session import get_spark
        from probes import Engine, LayerTimer, Spans

        self.fingerprint = result_fingerprint
        self.builds = {q: REGISTRY[q].build for q in cfg["queries"]}
        self.spans = Spans(cfg["workload"])
        t0 = time.perf_counter()
        self.spark = get_spark("layerbench")
        self.session_start_s = time.perf_counter() - t0
        self.engine = Engine(self.spark)
        self.slots = self.spark.sparkContext.defaultParallelism
        self.layers = LayerTimer(self.spans)
        if self.traced:
            self.layers.install(type(self.spark.range(1)))
        self.write_roots = [cfg["tmp_dir"], cfg["stream_dir"]]

    def run_pass(self, k: int, timed: bool, traced: bool) -> dict:
        d = os.path.join(self.cfg["pass_root"], f"p{k:03d}")
        _link_inputs(self.cfg["data_dir"], d)
        eng, spans = self.engine, self.spans
        spans.pass_no = k if traced else None
        self.layers.enabled = traced
        self.layers.checkpoints = 0
        n_events = len(eng.stream.events)
        jobs0, stages0, sql0 = eng.ids()
        files0 = usage(self.write_roots) if traced else (0, 0)
        rec: dict = {"pass": k, "timed": timed, "traced": traced, "queries": {}}
        catalyst: dict[str, float] = {}
        build_jobs = 0
        span = spans.span if traced else _no_span
        cpu0 = cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        with span("pass"):
            for q, build in self.builds.items():
                qrec: dict = {}
                tq = time.perf_counter()
                try:
                    jobs = eng.ids()[0] if traced else 0
                    with span("queries.build", query=q):
                        df = build(self.spark, d)
                    qrec["build_s"] = time.perf_counter() - tq
                    if traced:
                        build_jobs += eng.ids()[0] - jobs
                    with span("exec.action", query=q):
                        rows = df.collect()
                    qrec["action_s"] = time.perf_counter() - tq - qrec["build_s"]
                    qrec["result"] = (df.columns, rows)
                    if traced:
                        for name, v in eng.catalyst(df).items():
                            catalyst[name] = catalyst.get(name, 0.0) + v
                except Exception:  # noqa: BLE001 - a failed query is counted, not skipped
                    qrec["error"] = traceback.format_exc(limit=3)
                    print(f"layerbench: {q} failed in pass {k}:\n{qrec['error']}",
                          file=sys.stderr)
                qrec["s"] = time.perf_counter() - tq
                rec["queries"][q] = qrec
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = cpu_seconds(os.getpid()) - cpu0
        # everything below is outside the timed region
        eng.drain()
        jobs1, stages1, sql1 = eng.ids()
        events = eng.stream.events[n_events:]
        for qrec in rec["queries"].values():
            if "result" in qrec:
                cols, rows = qrec.pop("result")
                qrec["rows"] = len(rows)
                qrec["fp"] = self.fingerprint(cols, [[r[c] for c in cols] for r in rows])
        rec["jobs"] = jobs1 - jobs0
        rec["batches"] = len(events)
        rec["retained_rdds"], rec["retained_bytes"] = eng.retained()
        if traced:
            files1 = usage(self.write_roots)
            layer = {
                "queries.build_s": sum(q.get("build_s", 0.0) for q in rec["queries"].values()),
                "queries.build_jobs": float(build_jobs),
                "exec.action_s": sum(q.get("action_s", 0.0) for q in rec["queries"].values()),
                "exec.jobs": float(rec["jobs"]),
                "materialize.checkpoints": float(self.layers.checkpoints),
                "io.files_written": float(max(files1[0] - files0[0], 0)),
                "io.write_bytes": float(max(files1[1] - files0[1], 0)),
                **catalyst,
                **eng.stages(stages0, stages1, rec["wall_s"], self.slots),
                **eng.sql(sql0, sql1),
                **_stream_totals(events),
            }
            rows_out = sum(q.get("rows", 0) for q in rec["queries"].values())
            joined = layer.pop("operators.max_join_rows")
            layer["operators.pair_yield"] = rows_out / joined if joined else 0.0
            totals = spans.totals(k)
            for name in ("sources.read_pdf_corpus", "sources.pdf_to_alto",
                         "sources.parse_alto_tokens", "plans.cascade", "sinks.tei"):
                layer[f"{name}_s"] = totals.get(name, 0.0)
            self._stream_spans(events)
            rec["layer"] = layer
        spans.pass_no = None
        self.layers.enabled = False
        return rec

    def _stream_spans(self, events: list) -> None:
        """One span per micro-batch, parented to the build it ran under."""
        from datetime import datetime

        offset = time.time() - time.perf_counter()
        builds = [(i, r) for i, r in enumerate(self.spans.records)
                  if r["name"] == "queries.build" and r["pass"] == self.spans.pass_no]
        for p in events:
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() - offset
            end = start + p.durationMs.get("triggerExecution", 0) / 1e3
            parent = next((i for i, r in builds if r["start"] <= start <= r["end"]), None)
            self.spans.records.append({
                "name": "streaming.batch", "start": start, "end": end,
                "parent": parent, "workload": self.spans.workload,
                "pass": self.spans.pass_no, "query": p.name,
                "batch": p.batchId, "input_rows": p.numInputRows,
            })

    def run(self) -> dict:
        passes: list[dict] = []
        t_warm = time.perf_counter()
        for k in range(WARMUP_PASSES):
            passes.append(self.run_pass(k, timed=False, traced=False))
        warmup_s = time.perf_counter() - t_warm
        first_timed = time.monotonic()
        gc_s, jit_s = self.engine.jvm_times()
        limit_s = GUARD_FACTOR * self.cfg["seconds"]
        for n in range(TIMED_PASSES):
            # a traced run alternates plain and traced passes so the
            # difference between them is the tracing overhead
            passes.append(self.run_pass(WARMUP_PASSES + n, timed=True,
                                        traced=self.traced and n % 2 == 1))
            timed_s = time.monotonic() - first_timed
            if timed_s > limit_s:
                raise RuntimeError(f"timed passes took {timed_s:.1f} s, over the "
                                   f"{limit_s:.0f} s guard ({GUARD_FACTOR} x --seconds)")
        out = {
            "first_timed_monotonic": first_timed,
            "session_start_s": self.session_start_s,
            "warmup_s": warmup_s,
            "setup_gc_s": gc_s,
            "setup_jit_s": jit_s,
            "passes": passes,
        }
        if self.traced:
            self.spans.self_times()
            out["spans"] = self.spans.records
        return out


def main() -> None:
    with open(sys.argv[1], encoding="utf-8") as f:
        cfg = json.load(f)
    worker = Worker(cfg)
    try:
        out = worker.run()
    finally:
        worker.spark.stop()
    # the oracle runs after the session is gone, outside every timing
    out["expected"] = oracle_fingerprints(cfg["data_dir"], cfg["queries"])
    with open(cfg["result_path"], "w", encoding="utf-8") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
