"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --repeat <k>

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it holds the workload's
detailed figures under their own names. See README.md for the workloads
and what each metric means.

``--repeat k`` runs the workload k times in fresh processes, with seeds
seed..seed+k-1, and prints the median, quartiles and spread of every
metric.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_ROUNDS = 5  # the first also launches the JVM, the second restarts it cold

E2E = {  # name -> unit
    "setup_s": "s",
    "lat_p50_ms": "ms",
    "throughput_per_s": "items/s",
}
LAYER_SPARK = ("jobs", "tasks", "busy_s", "gap_s", "shuffle_bytes", "spill_bytes")
FINAL_SPARK = LAYER_SPARK[:-1]  # spill stays in the detail line: 0 at these sizes
LAYER_UNITS = {"jobs": "count", "tasks": "count", "busy_s": "s", "gap_s": "s",
               "shuffle_bytes": "bytes", "spill_bytes": "bytes"}


def workloads():
    import wl_batch
    import wl_stream

    return {
        "stream_market_spread": wl_stream.Stream,
        "corpus_dedup_ann": wl_batch.CorpusDedupAnn,
    }


def run_once(args) -> int:
    import common
    import refs

    cpus = min(common.cpu_count(), args.cpus) if args.cpus else common.cpu_count()
    env = common.Env(ROOT, args.workload, cpus)
    tracer = common.Tracer(env.run_id, enabled=bool(args.trace))
    detail: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                    "scale": args.scale}
    wl = None
    failed = 0
    try:
        wl = workloads()[args.workload](env, tracer, args.seed, args.seconds, args.scale)
        setups = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            env.start_session()
            with tracer.span("setup.stage"):
                wl.stage()
            setups.append(time.perf_counter() - t0)
        detail["master"] = env.spark.sparkContext.master
        detail["session.start_s"] = common.median(env.session_starts)
        detail["setup_s"] = common.median(setups)
        t0 = time.perf_counter()
        wl.warm_up()
        detail["warmup_s"] = time.perf_counter() - t0
        m = wl.measure()
        e2e = {"setup_s": detail["setup_s"], "lat_p50_ms": m["lat_p50_ms"],
               "throughput_per_s": m["throughput_per_s"]}
        detail.update({k: v for k, v in m.items() if not k.startswith("_")})
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
        if args.trace:
            metrics = traced_pass(args, env, tracer, wl, e2e, detail)
        if args.workload == "stream_market_spread":
            backlog = detail["stream.backlog_end"]
            refs.require(backlog == 0, f"live backlog of {backlog} messages did not drain")
        correct = True
    except refs.CheckFailed as e:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
        correct, metrics = False, {}
    except Exception:
        # an operator raised or a query stalled: one failed operation
        traceback.print_exc()
        correct, metrics, failed = False, {}, 1
    finally:
        env.close()
    attempted = (wl.attempted if wl else 0) + failed
    failed += wl.failed if wl else 0
    detail["attempted"], detail["failed"] = attempted, failed
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def traced_pass(args, env, tracer, wl, untraced: dict, detail: dict) -> dict:
    """Repeat the timed phase in a session with Spark's event log on and
    spans recorded; return the per-layer metrics."""
    import common

    env.start_session(event_log=True)
    app_id = env.spark.sparkContext.applicationId
    wl.stage()
    with tracer.span("measure") as sp:
        m = wl.measure()
    if args.workload == "stream_market_spread":
        with tracer.span("sources.decode"):
            m["sources.decode_s"] = wl.decode_time()
        detail["stream.backlog_end"] = max(detail["stream.backlog_end"], m["stream.backlog_end"])
        detail["sources.spool_lag_ms_p50"] = m["sources.spool_lag_ms_p50"]
    else:
        audit = wl.audit()
    env.spark.stop()  # flushes the event log
    env.spark = None
    log = common.EventLog(env.events, app_id)
    layer: dict = {}
    acc = log.window(sp["start"], sp["end"])
    per = max(1, m.get("rounds", 1))
    for k in FINAL_SPARK:
        layer[f"spark.{k}"] = acc[k] / per
    detail["spark.spill_bytes"] = acc["spill_bytes"] / per
    if args.workload == "stream_market_spread":
        detail.update(stream_layers(m, log))
        layer["pipeline.build_s"] = m["_build_s"]
    else:
        detail.update(batch_layers(m, log))
        acc = log.window(audit["span"]["start"], audit["span"]["end"])
        acc["s"] = audit.pop("s")
        del audit["span"], acc["tasks"]
        detail.update({f"ann_recall_audit.{k}": v for k, v in acc.items()}, **audit)
        layer["pipeline.build_s"] = common.median(
            [sum(c["build_s"] for c in rnd) for rnd in m["_rounds"]]
        )
    layer["session.start_s"] = detail["session.start_s"]
    for k in ("lat_p50_ms", "throughput_per_s"):
        layer[f"overhead.{k}"] = m[k] - untraced[k]
        detail[f"overhead.{k}"] = layer[f"overhead.{k}"]
    tracer.write(env.traces / f"{env.run_id}.jsonl")
    units = {"pipeline.build_s": "s", "session.start_s": "s",
             "overhead.lat_p50_ms": "ms",
             "overhead.throughput_per_s": "items/s",
             **{f"spark.{k}": LAYER_UNITS[k] for k in FINAL_SPARK}}
    return {k: {"value": v, "unit": units[k]} for k, v in layer.items()}


def batch_layers(m: dict, log) -> dict:
    """<op>.s/.jobs/.busy_s/.gap_s/.shuffle_bytes/.spill_bytes, medians
    over the measured rounds."""
    import common

    out = {}
    by_op: dict[str, list[dict]] = {}
    for rnd in m["_rounds"]:
        for c in rnd:
            sp = c["span"]
            acc = log.window(sp["start"], sp["end"])
            acc["s"] = c["s"]
            by_op.setdefault(c["op"], []).append(acc)
    for op, accs in by_op.items():
        for k in ("s", *LAYER_SPARK):
            if k == "tasks":
                continue
            out[f"{op}.{k}"] = common.median([a[k] for a in accs])
    return out


def stream_layers(m: dict, log) -> dict:
    """Micro-batch phase accounting from the live phase's progress events
    and the event log (D-Streams style: where each batch's time goes)."""
    import common

    prog = m["_live_prog"]

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    sink = m["_sink_ms"]
    batch_ms = [dur(p, "triggerExecution") for p in prog]
    tasks = []
    for p in prog:
        end = common.parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
        tasks.append(log.window(common.parse_ts(p["timestamp"]), end)["tasks"])
    last_state = prog[-1]["stateOperators"][0]
    return {
        "sources.list_ms_p50": common.median([dur(p, "latestOffset", "getBatch") for p in prog]),
        "sources.decode_s": m["sources.decode_s"],
        "pipeline.plan_ms_p50": common.median([dur(p, "queryPlanning") for p in prog]),
        "state.exec_ms_p50": common.median(
            [dur(p, "addBatch") - s for p, s in zip(prog, sink)]
        ) if len(sink) == len(prog) else common.median([dur(p, "addBatch") for p in prog]),
        "state.commit_ms_p50": common.median(
            [p["stateOperators"][0]["commitTimeMs"] for p in prog]
        ),
        "state.rows": last_state["numRowsTotal"],
        "state.bytes": last_state["memoryUsedBytes"],
        "spark.tasks_per_batch": common.median(tasks),
        "checkpoint.wal_ms_p50": common.median([dur(p, "walCommit", "commitOffsets") for p in prog]),
        "sinks.commit_ms_p50": common.median(sink),
        "stream.batch_ms_p50": common.median(batch_ms),
        "stream.batch_ms_p90": common.percentile(batch_ms, 90),
        "stream.rows_per_batch_p50": common.median([p["numInputRows"] for p in prog]),
        "stream.batches": len(prog),
    }


def repeat(args) -> int:
    """Fresh process per run; median, quartiles and spread per metric."""
    import statistics

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    fails = 0
    for i in range(args.repeat):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(args.seed + i), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.cpus:
            cmd += ["--cpus", str(args.cpus)]
        if args.scale != 1.0:
            cmd += ["--scale", str(args.scale)]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            fails += 1
            print(f"run {i}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        det = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
        print(json.dumps({"run": i, "seed": args.seed + i, "wall_s": round(wall, 1),
                          "attempted": res["attempted"], "failed": res["failed"],
                          **{k: v["value"] for k, v in res["metrics"].items()}}))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
        for k, v in det.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool) and k not in res["metrics"]:
                values.setdefault("detail." + k, []).append(v)
    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
        else:
            q1 = q3 = med
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / abs(med) if med else 0.0, "n": len(vs),
                      "unit": units.get(k, "")}
    print(json.dumps({"workload": args.workload, "runs": args.repeat, "failed_runs": fails,
                      "summary": summary}, indent=1))
    return 0 if fails == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(workloads()))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--cpus", type=int, default=0, help="cap on cores (default: all usable)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier, for row-bound checks (default 1)")
    args = ap.parse_args()
    if not (ROOT / "wallaroo_spark").is_dir():
        print(f"no wallaroo_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.repeat:
        return repeat(args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
