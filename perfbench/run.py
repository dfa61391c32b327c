"""Benchmark entry point.

    python3 perfbench/run.py --workload report_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the engine and the benchmark's
JVM program (see build.py), generates the workload's inputs from the seed (gen.py),
runs the workload in one JVM as a closed loop for `--seconds`, checks
the outputs (gate.py), and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the JVM measures an
untraced and then a traced window and the metrics are the per-layer
ones, including the tracing overhead per end-to-end metric.

Everything is written under .bench_build/ in the checkout; the full
record of each run (seed, generator parameters, session settings,
client count, all metrics) lands in .bench_build/results/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gate  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170
WORKLOADS = ["report_mix", "ingest_migrate", "vector_search"]
END_TO_END = ["setup_s", "latency_p50_ms", "latency_tail_ms", "throughput_ops_s",
              "rows_per_s", "peak_rss_mb", "write_amp", "space_amp"]
UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
         "throughput_ops_s": "1/s", "rows_per_s": "1/s", "peak_rss_mb": "MB",
         "write_amp": "ratio", "space_amp": "ratio"}
PROBE_KINDS = ["topk_exact", "ivf_nearest", "pq_ivf", "graph_beam"]
# the tail percentile every workload reports as latency_tail_ms
TAIL_PCT = 90
# ingest_migrate rewrites every touched bucket, so a batch writes more
# the larger the mart already is; its write_amp covers this fixed
# prefix of batches, so that a faster engine, which gets further in the
# window, does not read as writing more
WRITE_AMP_BATCHES = 6


def generate(workload, seed, data):
    if workload == "report_mix":
        gen.star_tables(seed, data)
        gen.report_params(seed, 4, f"{data}/requests.tsv")
    elif workload == "ingest_migrate":
        gen.ingest_batches(seed, data)
    elif workload == "vector_search":
        gen.vectors(seed, data)
    else:
        raise SystemExit(f"unknown workload {workload}")


def pct(xs, p):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def per_client_rate(ops, weight):
    """Sum over clients of completed work per second of that client's
    loop. Each client is a closed loop, so its rate is its work over the
    time until its own last operation ended; summing per client avoids
    the end-of-window quantization of one shared denominator."""
    by_client = {}
    for o in ops:
        done, end = by_client.get(o["c"], (0, 0))
        by_client[o["c"]] = (done + (weight(o) if o["ok"] else 0), max(end, o["e"]))
    return sum(done / (end / 1e9) for done, end in by_client.values() if end > 0)


def write_amp(workload, win):
    """Bytes written per byte of generated input the operations address
    (`ib`, fixed by the inputs). ingest_migrate counts the mart bytes
    each batch wrote (`ob`) over its valid CSV bytes; the read-only
    workloads count what the engine wrote in the window (output,
    shuffle and spill files, from the listener)."""
    ok = [o for o in win["ops"] if o["ok"]]
    if workload == "ingest_migrate":
        first = sorted(ok, key=lambda o: o["i"])[:WRITE_AMP_BATCHES]
        return sum(o["ob"] for o in first) / max(1, sum(o["ib"] for o in first))
    ex = win["exec"]
    written = ex["output_bytes"] + ex["shuffle_write_bytes"] + ex["spill_bytes"]
    return written / max(1, sum(o["ib"] for o in ok))


def end_to_end(res, win, gated):
    """The end-to-end metrics of one window."""
    _, _, live_bytes, disk_bytes = gated
    ok = [o for o in win["ops"] if o["ok"]]
    lat = [(o["e"] - o["s"]) / 1e6 for o in ok] or [float("nan")]
    return {
        "setup_s": res["setup_s"],
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": pct(lat, TAIL_PCT),
        "throughput_ops_s": per_client_rate(win["ops"], lambda o: 1),
        "rows_per_s": per_client_rate(win["ops"], lambda o: o["rows"]),
        "peak_rss_mb": win["peak_rss_mb"],
        "write_amp": write_amp(res["workload"], win),
        "space_amp": disk_bytes / max(1, live_bytes),
    }


def per_layer(res, win, e2e_plain, e2e_traced):
    """The per-layer metrics of the traced window (0 where the workload
    never enters the layer)."""
    ops = [o for o in win["ops"] if o["ok"]]
    n = max(1, len(ops))
    times = win["layer_times"]
    lay = win["layer"]
    ex = win["exec"]
    lex = win["layer_exec"]

    def mean_ms(span):
        t = times.get(span)
        return t["total_ms"] / n if t else 0.0

    def once_ms(span):
        t = times.get(span)
        return t["total_ms"] / t["count"] if t else 0.0

    m = {
        "plans.plan_ms": mean_ms("plans.plan"),
        "plans.exchanges": lay.get("plans.exchanges", 0.0),
        "plans.broadcast_joins": lay.get("plans.broadcast_joins", 0.0),
        "plans.smj_joins": lay.get("plans.smj_joins", 0.0),
        "tables.load_ms": lay.get("tables.load_ms", 0.0),
        "tables.footer_ms": lay.get("tables.footer_ms", 0.0),
        "tables.input_bytes": ex["input_bytes"] / n,
        "tables.rows_read_per_row_out":
            ex["input_records"] / max(1.0, lay.get("rows_out", sum(o["rows"] for o in ops))),
        "queries.build_ms": mean_ms("queries.build"),
        "queries.exec_ms": mean_ms("queries.exec"),
        "exec.jobs": ex["jobs"] / n,
        "exec.stages": ex["stages"] / n,
        "exec.tasks": ex["tasks"] / n,
        "exec.task_run_ms": ex["task_run_ms"] / n,
        "exec.task_cpu_ms": ex["task_cpu_ms"] / n,
        "exec.gc_ms": ex["gc_ms"] / n,
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"] / n,
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"] / n,
        "exec.spill_bytes": ex["spill_bytes"] / n,
        "exec.slot_busy_frac": ex["task_run_ms"] / (win["window_s"] * 1000 * res["cores"]),
        "exec.slot_wait_ms": ex["slot_wait_ms"] / max(1, ex["slot_wait_jobs"]),
        "sources.read_validate_ms": mean_ms("sources.read_validate"),
        "sources.valid_frac":
            lay.get("sources.valid_rows", 0.0) / max(1, sum(o["rows"] for o in ops))
            if "sources.valid_rows" in lay else 0.0,
        "streaming.apply_batch_ms": mean_ms("streaming.apply_batch"),
        "streaming.read_latest_ms": mean_ms("streaming.read_latest"),
        "streaming.touched_buckets": lay.get("streaming.touched_buckets", 0.0) / n,
        "streaming.bytes_written": lay.get("streaming.bytes_written", 0.0) / n,
        "streaming.files_written": lay.get("streaming.files_written", 0.0) / n,
        "streaming.write_amp": sum(o["ob"] for o in ops) / max(1, sum(o["ib"] for o in ops))
            if res["workload"] == "ingest_migrate" else 0.0,
        "streaming.space_amp": (win["extra"].get("mart_bytes", 0) / max(1, win.get("live_bytes", 1)))
            if "mart_bytes" in win["extra"] else 0.0,
        "operators.merge_ms": lay.get("operators.merge_ms", 0.0),
        "operators.topk_ms": lay.get("operators.topk_ms", 0.0),
        "operators.cc_ms": lay.get("operators.cc_ms", 0.0),
        "operators.index_write_ms": lay.get("operators.index_write_ms", 0.0),
        "operators.index_append_ms": once_ms("operators.index_append"),
        "operators.index_delete_ms": once_ms("operators.index_delete"),
        "functions.cosine_rows_per_s": lay.get("functions.cosine_rows_per_s", 0.0),
        "functions.nearest_clusters_rows_per_s":
            lay.get("functions.nearest_clusters_rows_per_s", 0.0),
        "cachescope.drain_ms": mean_ms("cachescope.drain"),
        "cachescope.cached_bytes_peak": lay.get("cachescope.cached_bytes_peak", 0.0),
    }
    recall = win.get("recall_by_kind", {})
    for kind in PROBE_KINDS:
        m[f"operators.index_probe_{kind}_ms"] = once_ms(f"operators.index_probe.{kind}")
        r, cnt = recall.get(kind, (0.0, 0))
        m[f"operators.recall_{kind}"] = r / cnt if cnt else 0.0
    # self time per layer (span time minus nested spans), per operation
    for layer in ["tables", "plans", "queries", "operators", "functions", "sources",
                  "streaming", "cachescope"]:
        m[f"{layer}.self_ms"] = sum(t["self_ms"] for s, t in times.items()
                                    if s.startswith(layer + ".")) / n
        m[f"{layer}.task_run_ms"] = lex[layer]["task_run_ms"] / n
    for k in END_TO_END:
        if k != "setup_s":
            m[f"overhead.{k}"] = e2e_traced[k] - e2e_plain[k]
    return m


def layer_units(metrics):
    units = {k: ("ms" if k.endswith("_ms") else "1/s" if k.endswith("_per_s")
                 else "bytes" if "bytes" in k
                 else "ratio" if k.endswith(("_frac", "_amp", "per_row_out")) or ".recall_" in k
                 else "count")
             for k in metrics}
    for k in END_TO_END:
        if f"overhead.{k}" in units:
            units[f"overhead.{k}"] = UNITS[k]
    return units


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    cp = build.build()
    t_built = time.time()  # the time limit of a run excludes the build
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.abspath(os.path.join(build.OUT, "runs", tag))
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = f"{run_dir}/data", f"{run_dir}/work"
    os.makedirs(data)
    os.makedirs(f"{work}/tmp")
    generate(a.workload, a.seed, data)

    cmd = (["java"] + build.jvm_options(work)
           + ["-cp", cp, "perfbench.Main", a.workload, data, work, str(a.seconds),
              str(a.trace), f"{work}/out.json"])
    budget = DEADLINE_S - (time.time() - t_built)
    with open(f"{run_dir}/jvm.log", "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=log, timeout=budget)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: JVM exceeded its time budget; see {run_dir}/jvm.log")
    if p.returncode != 0:
        raise SystemExit(f"run: JVM failed ({p.returncode}); see {run_dir}/jvm.log")
    with open(f"{work}/out.json") as f:
        res = json.load(f)

    check = gate.GATES[a.workload]
    plain = res["untraced"]
    gated = check(data, work, plain)
    e2e = end_to_end(res, plain, gated)
    attempted = len(plain["ops"])
    failed = sum(not o["ok"] for o in plain["ops"]) + gated[1]
    if a.trace:
        win = res["traced"]
        tg = check(data, work, win)
        win["live_bytes"] = tg[2]
        metrics = per_layer(res, win, e2e, end_to_end(res, win, tg))
        attempted += len(win["ops"])
        failed += sum(not o["ok"] for o in win["ops"]) + tg[1]
        units = layer_units(metrics)
        os.makedirs(f"{build.OUT}/results", exist_ok=True)
        shutil.copy(f"{work}/spans.jsonl", f"{build.OUT}/results/{tag}.spans.jsonl")
    else:
        metrics = e2e
        units = UNITS
    errors = sorted({o["err"] for o in plain["ops"] if o["err"]})[:5]
    by_kind = {}
    for o in sorted(plain["ops"], key=lambda o: o["s"]):
        by_kind.setdefault(o["k"], []).append(round((o["e"] - o["s"]) / 1e6, 1))
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "clients": res["clients"], "cores": res["cores"], "settings": res["settings"],
        "generator": gen.PARAMS, "tail_percentile": TAIL_PCT,
        "session_s": res["session_s"], "register_s": res["register_s"],
        "warmup_s": res["warmup_s"], "window_s": plain["window_s"],
        "checks": gated[0], "wrong": gated[1], "errors": errors, "op_ms_by_kind": by_kind,
        "wrong_detail": plain.get("wrong_detail", [])[:5],
        "recall_by_kind": {k: r / n for k, (r, n) in plain.get("recall_by_kind", {}).items()},
        "metrics": metrics, "wall_s": time.time() - t_start,
    }
    os.makedirs(f"{build.OUT}/results", exist_ok=True)
    with open(f"{build.OUT}/results/{tag}.json", "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    out = {"correct": failed == 0 and gated[0] > 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
