"""One benchmark run of one workload, in a fresh process.

`python3 -m perfbench.harness --workload W --seed N --seconds S --trace 0|1`
from the repository root, with the environment `perfbench/run.py`
derives from the machine. Prints one JSON result as the last line of
stdout; everything else goes to stderr.

Run shape: session start, seeded set-up, warm-up until call times stop
drifting, a GC, then the timed phase of whole cycles until `seconds`
have passed, then the correctness checks. With `--trace 1` an untraced
timed phase is followed by a traced one (spans, job groups, single-
layer replays) whose Spark numbers are read from the status REST API.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import sys
import time
from dataclasses import dataclass

from perfbench.tracing import SparkStatus, Tracer, attribute, median, parse_time, union_ms

END_TO_END = {
    "setup_s": "s",
    "cycle_p50_ms": "ms",
}

# per-layer metric → unit; a workload that never enters a layer reports 0
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_ms": "ms", "spark.executor_run_ms": "ms", "spark.executor_deser_ms": "ms",
    "spark.gc_pct": "%", "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.cached_bytes": "bytes",
    "kernel.py_run_ms": "ms", "kernel.py_init_ms": "ms",
    "kernel.bytes_to_py": "bytes", "kernel.bytes_from_py": "bytes",
    "driver.plan_ms": "ms", "driver.action_ms": "ms",
    "api.route.brute": "count", "api.route.probe": "count",
    "functions.embed.query_pct": "%", "mcp_server.dispatch_pct": "%",
    "operators.bm25.stats_pct": "%", "operators.bm25.leg_pct": "%",
    "operators.topk.leg_pct": "%", "operators.fusion.fuse_pct": "%",
    "io.bytes_written": "bytes", "io.write_amp": "ratio", "io.space_amp": "ratio",
    "operators.bm25.segments": "count", "operators.bm25.rows_scanned": "count",
    "operators.analytics.quality_pct": "%", "operators.dedup.exact_pct": "%",
    "operators.dedup.minhash_pct": "%", "operators.sampling.pack_pct": "%",
    "operators.dedup.candidate_pairs": "count", "operators.dedup.verified_pairs": "count",
    "operators.dedup.near_missed": "count",
    "session.peak_rss_bytes": "bytes",
    "trace.overhead_pct": "%", "trace.root_self_pct": "%",
}

# the call kind each workload's single-layer replays are a share of
LAYER_BASE = {"serve": "search_hybrid", "batch": "curate_corpus"}

# adaptive warm-up: at least WARM_MIN calls, then stop once a call is
# no more than WARM_DRIFT faster than the one before it. Serve calls
# keep getting faster for several calls after the first fast one, so a
# shorter warm-up leaves that drift inside the timed phase.
WARM_MIN = 6
WARM_DRIFT = 0.10


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    workdir: str


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def session(workdir: str, trace: bool):
    from mcp_vector_search_spark.session import get_spark

    # the traced run reads every job, stage and SQL execution back from
    # the status store, so nothing may be evicted before it is read;
    # the status REST API is served by the UI, which only it needs
    retained = "1000000"
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.sql.ui.retainedExecutions": retained,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # keep the JVM's temp files in the checkout; its perf-data
            # file would otherwise go to /tmp whatever the tmpdir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ.get('TMPDIR', workdir)} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(w) -> list[float]:
    """Run the workload's warm-up calls. An adaptive list stops early
    once call times stop drifting; a fixed list runs to the end."""
    times = []
    for fn in w.warm_up():
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
        if getattr(w, "adaptive_warm", False) and len(times) >= WARM_MIN:
            if times[-1] >= (1.0 - WARM_DRIFT) * times[-2]:
                break
    return times


def timed_phase(w, seconds: float, with_layers: bool = False) -> dict:
    """Whole cycles until `seconds` have passed; at least one."""
    first = len(w.results)
    cycles = []
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        t0 = time.perf_counter()
        w.cycle(i)
        cycles.append((time.perf_counter() - t0) * 1000.0)
        if with_layers:
            w.layers(i)
        i += 1
        if time.perf_counter() >= t_end:
            break
    kinds: dict[str, list[float]] = {}
    for r in w.results[first:]:
        kinds.setdefault(r["kind"], []).append(r["ms"])
    return {
        "cycles": cycles,
        "calls": len(w.results) - first,
        "kinds": {k: {"n": len(v), "p50_ms": median(v)} for k, v in kinds.items()},
    }


def peak_rss_bytes(spark) -> float:
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024.0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        rss += float(line.split()[1]) * 1024.0
        except OSError:
            pass
    return rss


def layer_metrics(w, tracer: Tracer, snap: dict, untraced: dict, traced: dict, spark) -> dict:
    groups = attribute(snap)
    calls = [s for s in tracer.roots() if s.name.startswith(f"{w.name}.")]
    # each Spark job becomes a child of the innermost benchmark span open
    # at its submission, so a wrapper span's self time is driver time
    recorded = list(tracer.spans)
    for job in snap["jobs"]:
        cid = (job.get("jobGroup") or "").rpartition("#")[2]
        if not cid.isdigit():
            continue
        start = parse_time(job["submissionTime"])
        end = parse_time(job.get("completionTime", job["submissionTime"]))
        owners = [s for s in recorded if s.call_id == int(cid) and s.start <= start <= s.end]
        if owners:
            parent = max(owners, key=lambda s: s.start).span_id
            tracer.add("spark.job", int(cid), parent, start, end, job_id=job["jobId"])

    per: dict[str, list[float]] = {}
    tot = {"run": 0.0, "gc": 0.0}
    root_self = []
    for s in calls:
        c = groups.get(f"{s.name}#{s.call_id}")
        root_self.append(100.0 * tracer.self_ms(s) / s.ms)
        if c is None:
            continue
        busy = union_ms([(a, b) for _, a, b in c.stage_spans], s.start, s.end) * 1000.0
        first = c.first_submit if c.first_submit is not None else s.end
        for key, val in (
            ("spark.jobs", c.jobs), ("spark.stages", c.stages), ("spark.tasks", c.tasks),
            ("spark.idle_ms", s.ms - busy), ("spark.executor_run_ms", c.run_ms),
            ("spark.executor_deser_ms", c.deser_ms),
            ("spark.shuffle_read_bytes", c.shuffle_read), ("spark.shuffle_write_bytes", c.shuffle_write),
            ("kernel.py_run_ms", c.py_run_ms), ("kernel.py_init_ms", c.py_init_ms),
            ("kernel.bytes_to_py", c.to_py), ("kernel.bytes_from_py", c.from_py),
            ("driver.plan_ms", max(0.0, (first - s.start) * 1000.0)),
            ("driver.action_ms", max(0.0, (s.end - first) * 1000.0)),
        ):
            per.setdefault(key, []).append(float(val))
        if s.name.endswith(".query_set"):
            per.setdefault("operators.bm25.rows_scanned", []).append(sum(c.scan_rows.values()))
        tot["run"] += c.run_ms
        tot["gc"] += c.gc_ms

    out = {name: 0.0 for name in PER_LAYER}
    for key, vals in per.items():
        out[key] = median(vals)
    if tot["run"]:
        out["spark.gc_pct"] = 100.0 * tot["gc"] / tot["run"]
    out["spark.cached_bytes"] = float(sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in snap["rdd"]))
    for key, vals in w.counters.items():
        if key.startswith("api.route."):
            out[key] = float(len(vals))
        elif key == "operators.bm25.segments":
            out[key] = max(vals)
        else:
            out[key] = median(vals)
    base_kind = LAYER_BASE.get(w.name)
    if base_kind and base_kind in traced["kinds"]:
        base = traced["kinds"][base_kind]["p50_ms"]
        for name, vals in w.layer_ms.items():
            out[f"{name}_pct"] = 100.0 * median(vals) / base
        dispatch = [tracer.self_ms(s) for s in tracer.spans if s.name == "mcp_server.handle_message"]
        if dispatch:
            out["mcp_server.dispatch_pct"] = 100.0 * median(dispatch) / base
    out["session.peak_rss_bytes"] = peak_rss_bytes(spark)
    out["trace.overhead_pct"] = 100.0 * (median(traced["cycles"]) / median(untraced["cycles"]) - 1.0)
    out["trace.root_self_pct"] = max(root_self) if root_self else 0.0
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"metrics outside the per-layer list: {sorted(unknown)}")
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args(argv)

    from perfbench.workloads import WORKLOADS

    spark = session(args.workdir, bool(args.trace))
    log(f"[perfbench] session {time.perf_counter() - t_start:.2f}s")
    try:
        tracer = Tracer(spark.sparkContext, enabled=False)
        ctx = Context(spark, tracer, args.seed, args.workdir)
        w = WORKLOADS[args.workload](ctx)
        w.setup()
        warm_s = warm(w)
        w.results.clear()
        w.counters.clear()
        # set-up garbage is collected now and the survivors frozen, so
        # the collector's pauses do not land inside timed calls
        gc.collect()
        gc.freeze()
        setup_s = time.perf_counter() - t_start
        log(f"[perfbench] {w.name} seed={args.seed} setup {setup_s:.2f}s "
            f"warm-up {[round(t, 2) for t in warm_s]}")

        untraced = timed_phase(w, args.seconds)
        traced = None
        if args.trace:
            w.trace_setup()
            w.counters.clear()
            gc.collect()
            tracer.enabled = True
            traced = timed_phase(w, args.seconds, with_layers=True)
            tracer.enabled = False
        t_check = time.perf_counter()
        fails = w.check()
        log(f"[perfbench] checks {time.perf_counter() - t_check:.2f}s")
        for f in fails:
            log(f"[perfbench] FAIL {f}")
        phase = traced or untraced
        log(f"[perfbench] {w.name} cycles {[round(c) for c in phase['cycles']]} kinds {phase['kinds']}")

        if args.trace:
            status = SparkStatus(spark.sparkContext)
            status.drain()
            snap = status.snapshot()
            metrics = layer_metrics(w, tracer, snap, untraced, traced, spark)
            units = PER_LAYER
            tracer.dump(args.trace_out, {
                "workload": w.name, "seed": args.seed, "setup_s": setup_s,
                "untraced": untraced, "traced": traced, "per_layer": metrics,
                "checks_failed": fails,
            })
            log(f"[perfbench] spans written to {args.trace_out}")
        else:
            metrics = {"setup_s": setup_s, "cycle_p50_ms": median(untraced["cycles"])}
            units = END_TO_END
        attempted = len(w.results)  # every timed call, traced or not
        result = {
            "correct": not fails,
            "attempted": attempted,
            "failed": min(attempted, len(fails)),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
