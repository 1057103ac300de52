"""Smoke mode: ``python3 perfbench/run.py --selftest``.

Runs every workload once per trace mode on tiny inputs (sf0.001 TPC-H
tables, 4 000 pages rows, one set-up round, one iteration), checks that
every metric BENCHMARK.json names is printed with its unit, and proves
that the correctness gate can fail: a payload byte flipped in a throwaway
copy of a blocks table must be counted as a failed decode operation.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys


def _declared(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]},
            {w["name"] for w in bench["workloads"]})


def corrupt_one_payload(blocks_path: str) -> str:
    """Flip one byte in the middle of the largest payload of the first
    block file; the parquet file itself stays valid."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = sorted(glob.glob(os.path.join(blocks_path, "**", "*.parquet"),
                            recursive=True))[0]
    tbl = pq.read_table(path)
    pay = [n for n in tbl.column_names if n.startswith("p_")]
    name = max(pay, key=lambda n: len(tbl.column(n)[0].as_py() or b""))
    vals = tbl.column(name).to_pylist()
    buf = bytearray(vals[0])
    buf[len(buf) // 2] ^= 0x5A
    vals[0] = bytes(buf)
    i = tbl.column_names.index(name)
    tbl = tbl.set_column(i, tbl.field(i), pa.array(vals, tbl.field(i).type))
    pq.write_table(tbl, path, compression="none")
    # drop the stale Hadoop checksum sidecar, so the read reaches the
    # engine's own verify instead of failing in the filesystem layer
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return f"{os.path.basename(path)}:{name}"


def gate_check(root) -> tuple:
    """(counted as failed?, detail) for a decode of a corrupted copy."""
    from sparkolumnar.engine.tableio import TableIO

    from perfbench.harness import stop_all
    from perfbench.tracing import Tracer
    from perfbench.workloads import Workload

    work = os.path.join(root, ".bench_work")
    w = Workload("tpch_numeric", 1, root, work, Tracer(False), smoke=True)
    try:
        w.setup(1)
        t = w.tables["lineitem"]
        copy = os.path.join(work, "corrupt", "lineitem")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(t.io.base, copy)
        where = corrupt_one_payload(os.path.join(copy, "blocks"))
        t.io = TableIO(w.spark, copy)
        w.op_decode()
        rec = w.ops[-1]
        shutil.rmtree(copy, ignore_errors=True)
        return (not rec["ok"], f"{where}: {rec.get('error')}")
    finally:
        if w.rss is not None:
            w.rss.stop()
        stop_all(w.spark)


def selftest() -> int:
    from perfbench.layers import per_layer_units
    from perfbench.run import E2E_UNITS, ROOT, WORKLOADS, measure

    problems = []
    e2e, per_layer, declared = _declared(ROOT)
    if not declared <= set(WORKLOADS):
        problems.append(f"BENCHMARK.json names unknown workloads {declared}")
    if e2e != E2E_UNITS:
        problems.append(f"BENCHMARK.json end_to_end {e2e} != {E2E_UNITS}")
    if per_layer != per_layer_units():
        problems.append("BENCHMARK.json per_layer differs from the code's")
    summary = {}
    for wl in WORKLOADS:
        for trace, want in ((0, e2e), (1, per_layer)):
            try:
                report, final = measure(wl, 1, 0.0, bool(trace), smoke=True,
                                        rounds=1)
            except Exception as e:  # report every workload, then fail
                problems.append(f"{wl} trace {trace}: {type(e).__name__}: {e}")
                continue
            got = {k: v["unit"] for k, v in final["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace {trace}: metric names/units "
                                f"differ: {sorted(set(got) ^ set(want))}")
            if not final["correct"] or final["attempted"] < 1:
                problems.append(f"{wl} trace {trace}: {report['failures']}")
            summary[f"{wl}/trace{trace}"] = {
                "attempted": final["attempted"], "failed": final["failed"],
                "ops": report["ops_by_kind"]}
    failed, detail = gate_check(ROOT)
    summary["gate"] = detail
    if not failed:
        problems.append(f"corrupted payload was not counted: {detail}")
    print(json.dumps({"selftest": summary, "problems": problems},
                     default=str))
    if problems:
        print("\n".join(problems), file=sys.stderr)
    return 1 if problems else 0
