"""sparkolumnar benchmark: encode/decode throughput, bytes stored and
probe/DML latency on three workloads, with a per-layer split.

    python3 perfbench/run.py --workload pages_text --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 1
    python3 perfbench/run.py --selftest

Run from the root of a checkout (the directory holding ``sparkolumnar/``).
``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is the separate traced run that prints the per-layer
metrics, the layer reconciliation and the tracing overhead, and writes
its spans. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full report (every metric with its unit and sample count, the
environment record, the table fingerprints). Both are also written to
``.bench_out/``. Working data goes to ``.bench_work/``. The exit code is
non-zero when any operation failed or its output did not match.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("pages_text", "tpch_numeric", "lineitem_probe")
SETUP_ROUNDS = 2
# A seed kept out of every run made while writing a performance claim,
# so the claim can be re-checked on inputs it was not tuned on.
HELD_OUT_SEED = 7919
# End-to-end metrics on the last line (BENCHMARK.json's end_to_end).
# On a shared VM the hypervisor steals 0-40% of the CPU for minutes at a
# time, which swings raw wall times by up to 2x between runs. Times are
# therefore gated as "nosteal" wall time: each operation's wall time
# scaled by the share of busy host CPU that was not stolen while it ran.
# Unlike CPU time charged to the processes (reported, not gated) it still
# sees a lost scan split, a skewed layout or a straggler task, and across
# seeds it spread no more. A run completes one iteration of the operation mix
# (1-5 s per operation here), so single operations are too few per run
# to gate their medians: the loop is gated as the time of a whole
# iteration, whose per-operation noise averages out.
E2E_UNITS = {
    "encode_mb_s_nosteal": "MB/s", "iteration_s_nosteal": "s",
    "stored_ratio": "ratio", "setup_s": "s",
}
# In the report line only, each with its sample count.
REPORT_UNITS = {
    "encode_mb_s": "MB/s", "decode_mb_s": "MB/s",
    "decode_mb_s_nosteal": "MB/s", "encode_mb_per_cpu_s": "MB/cpu-s",
    "decode_mb_per_cpu_s": "MB/cpu-s", "probe_p50_ms": "ms",
    "probe_p95_ms": "ms", "probe_p50_ms_nosteal": "ms",
    "probe_cpu_p50_ms": "cpu-ms", "delete_p50_ms": "ms",
    "delete_ms_nosteal": "ms", "delete_cpu_ms": "cpu-ms",
    "iteration_cpu_s": "cpu-s", "peak_rss_mb": "MB",
}


def e2e_metrics(w) -> dict:
    """{metric: (value, unit, samples)} from one untraced run."""
    from perfbench.harness import median, percentile

    def ms(kind, field):
        return [r[field] * 1e3 for r in w.ops if r["kind"] == kind and r["ok"]]

    def mb_per_s(runs, field):
        return median([r["mb"] / r[field] for r in runs]), len(runs)

    raw = sum(t.raw_bytes for t in w.tables.values())
    probes, dels = ms("probe", "wall"), ms("delete", "wall")
    probes_cpu, dels_cpu = ms("probe", "cpu"), ms("delete", "cpu")
    probes_ns, dels_ns = ms("probe", "wall_nosteal"), ms("delete",
                                                        "wall_nosteal")
    iters = {}
    for r in w.ops:
        if r["it"] < w.iterations:   # whole iterations only
            tot = iters.setdefault(r["it"], [0.0, 0.0])
            tot[0] += r["wall_nosteal"]
            tot[1] += r["cpu"]
    vals = {
        "encode_mb_s": mb_per_s(w.encode_runs, "wall"),
        "decode_mb_s": mb_per_s(w.decode_runs, "wall"),
        "encode_mb_s_nosteal": mb_per_s(w.encode_runs, "wall_nosteal"),
        "decode_mb_s_nosteal": mb_per_s(w.decode_runs, "wall_nosteal"),
        "encode_mb_per_cpu_s": mb_per_s(w.encode_runs, "cpu"),
        "decode_mb_per_cpu_s": mb_per_s(w.decode_runs, "cpu"),
        "stored_ratio": (w.stored_bytes / raw, 1),
        "probe_p50_ms": (median(probes), len(probes)),
        "probe_p95_ms": (percentile(probes, 0.95), len(probes)),
        "probe_p50_ms_nosteal": (median(probes_ns), len(probes_ns)),
        "probe_cpu_p50_ms": (median(probes_cpu), len(probes_cpu)),
        "delete_p50_ms": (median(dels), len(dels)),
        "delete_cpu_ms": (median(dels_cpu), len(dels_cpu)),
        "delete_ms_nosteal": (median(dels_ns), len(dels_ns)),
        "peak_rss_mb": (w.rss.peak / 1e6, w.rss.samples),
        "setup_s": (median(w.setup_walls), len(w.setup_walls)),
        "iteration_s_nosteal": (median([t[0] for t in iters.values()]),
                                len(iters)),
        "iteration_cpu_s": (median([t[1] for t in iters.values()]),
                            len(iters)),
    }
    units = {**E2E_UNITS, **REPORT_UNITS}
    return {k: (v, units[k], n) for k, (v, n) in vals.items()}


def layer_metrics(w, tracer) -> dict:
    """{metric: (value, unit, samples)} from one traced run."""
    from perfbench import layers
    from perfbench.harness import SLOTS, median

    units = {**layers.per_layer_units(), **layers.report_layer_units()}
    t = w.tables[w.spec["probe_table"]]
    vals = layers.probe_metrics(w, layers.load_block_meta(t.io.blocks_path))
    split, decode_noop = layers.stage_split(w, tracer)
    vals.update(split)
    rep, busy = layers.replay(w, tracer)
    vals.update(rep)
    enc_wall = median([r["wall"] for r in w.encode_runs])
    dec_wall = median([r["wall"] for r in w.decode_runs])
    vals["recon.encode_stage_sum_ratio"] = sum(
        v for k, v in split.items() if not k.startswith("decode.")) / enc_wall
    vals["recon.decode_stage_sum_ratio"] = decode_noop / dec_wall
    vals["recon.busy_vs_udf_slots_ratio"] = (
        busy / (split["encode.udf_s"] * SLOTS)
        if split["encode.udf_s"] > 0 else 0.0)
    return {k: (vals[k], units[k], 1) for k in units}


def measure(workload, seed, seconds, trace, smoke=False, rounds=None):
    """Set up, run the closed loop and return (report, final line)."""
    from perfbench.harness import environment, stop_all
    from perfbench.layers import per_layer_units
    from perfbench.tracing import Tracer
    from perfbench.workloads import Workload

    work = os.path.join(ROOT, ".bench_work")
    tracer = Tracer(enabled=False)
    w = Workload(workload, seed, ROOT, work, tracer, smoke=smoke)
    t_run = time.perf_counter()
    try:
        w.setup(rounds or SETUP_ROUNDS)
        tracer.enabled = trace
        loop_s = w.run_loop(seconds)
        w.rss.stop()
        w.check_pending()
        metrics = layer_metrics(w, tracer) if trace else e2e_metrics(w)
        env = environment(w.spark)
    finally:
        t_stop = time.perf_counter()
        if w.rss is not None:
            w.rss.stop()
        stop_all(w.spark)
        w.phases["stop"] = time.perf_counter() - t_stop
    failed = sum(not r["ok"] for r in w.ops)
    report = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "held_out_seed": HELD_OUT_SEED,
        "load": "closed loop, 1 client",
        "loop_s": loop_s, "run_s": time.perf_counter() - t_run,
        "setup_rounds_s": w.setup_walls, "phases_s": w.phases,
        "ops_attempted": len(w.ops), "ops_failed": failed,
        "ops_failed_ratio": failed / max(1, len(w.ops)),
        "ops_by_kind": _count_kinds(w.ops),
        "failures": [r for r in w.ops if not r["ok"]][:20],
        "op_log": [{k: r.get(k) for k in ("kind", "probe", "it", "wall",
                                          "wall_nosteal", "cpu")}
                   for r in w.ops],
        "metrics": {k: {"value": v, "unit": u, "samples": n}
                    for k, (v, u, n) in metrics.items()},
        "environment": env,
        "blocksets": w.blocksets,
    }
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-s{seed}-t{int(trace)}"
                        + ("-smoke" if smoke else ""))
    report["comparable_with_previous"] = _comparable(stem + ".json", report)
    if trace:
        tracer.write(stem + ".spans.jsonl")
        report["spans_file"] = stem + ".spans.jsonl"
        report["spans"] = len(tracer.spans)
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    final_units = per_layer_units() if trace else E2E_UNITS
    final = {"correct": failed == 0, "attempted": len(w.ops),
             "failed": failed,
             "metrics": {k: {"value": v, "unit": u}
                         for k, (v, u, _n) in metrics.items()
                         if k in final_units}}
    return report, final


def _count_kinds(ops):
    out = {}
    for r in ops:
        k = r.get("probe") or r["kind"]
        out[k] = out.get(k, 0) + 1
    return out


def _comparable(path, report):
    """False when an earlier result for this workload and seed was made
    with a different environment or wrote different block sets."""
    try:
        with open(path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    return (prev.get("environment") == report["environment"]
            and prev.get("blocksets") == report["blocksets"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",),
                    help="'all' runs every workload in turn and ends with "
                         "one line combining them")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="smoke mode: tiny inputs, every workload once, "
                         "metric names and the failure gate checked")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparkolumnar")):
        print(f"perfbench: no sparkolumnar package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.selftest:
        from perfbench.selftest import selftest
        return selftest()
    if args.workload is None:
        ap.error("--workload is required")
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    finals = {}
    for name in names:
        report, finals[name] = measure(name, args.seed, args.seconds,
                                       bool(args.trace))
        print(json.dumps(report, default=str))
    final = finals[names[0]] if len(names) == 1 else {
        "correct": all(f["correct"] for f in finals.values()),
        "attempted": sum(f["attempted"] for f in finals.values()),
        "failed": sum(f["failed"] for f in finals.values()),
        "metrics": {f"{n}.{k}": v for n, f in finals.items()
                    for k, v in f["metrics"].items()}}
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
