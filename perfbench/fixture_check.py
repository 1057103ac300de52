"""Compare the benchmark's generated TPC-H tables with the test tables.

    python3 perfbench/fixture_check.py --tpch-dir DIR [--sf 0.1] [--seed 1]

DIR holds the repository's TPC-H test tables (TESTDATA.md) of the same
scale factor, as ``lineitem.parquet`` and ``orders.parquet``. For every
column the check compares the value range, the share of distinct values,
and, over the first ``--batches`` 32768-row batches of each table, the
codec ``encode_batch`` selects and the bytes it stores per value. It
prints one JSON object and exits 1 when a column's codec differs or its
stored bytes per value are more than ``--tolerance`` apart. The
benchmark itself never reads DIR.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BATCH_ROWS = 32768


def _stats(col: pa.ChunkedArray) -> dict:
    vals = col.to_numpy() if not pa.types.is_string(col.type) else \
        np.array(col.to_pylist(), dtype=object)
    uniq = np.unique(vals)
    return {"type": str(col.type), "min": str(uniq[0]), "max": str(uniq[-1]),
            "distinct_share": round(len(uniq) / len(vals), 4)}


def _codecs(tbl: pa.Table, batches: int) -> dict:
    """{column: (codecs chosen per batch, stored bytes per value)}."""
    from sparkolumnar.engine.encode import encode_batch

    chosen = {c: [] for c in tbl.column_names}
    stored = dict.fromkeys(tbl.column_names, 0)
    rows = 0
    for i in range(batches):
        part = tbl.slice(i * BATCH_ROWS, BATCH_ROWS).combine_chunks()
        if part.num_rows == 0:
            break
        rows += part.num_rows
        block = encode_batch(part.to_batches()[0], "check", 0, i)
        for c in block.column("columns")[0].as_py():
            chosen[c["name"]].append(c["codec"])
            stored[c["name"]] += c["bytes_out"]
    return {c: (sorted(set(chosen[c])), stored[c] / rows) for c in chosen}


def compare(reference: pa.Table, generated: pa.Table, batches: int,
            tolerance: float) -> tuple:
    """(per-column report, list of problems)."""
    out, problems = {}, []
    if reference.schema.names != generated.schema.names:
        problems.append(f"columns {generated.schema.names} != "
                        f"{reference.schema.names}")
    rc, gc = _codecs(reference, batches), _codecs(generated, batches)
    for name in reference.column_names:
        if name not in generated.column_names:
            continue
        r, g = _stats(reference[name]), _stats(generated[name])
        (r_codec, r_bpv), (g_codec, g_bpv) = rc[name], gc[name]
        out[name] = {
            "reference": {**r, "codecs": r_codec,
                          "bytes_per_value": round(r_bpv, 4)},
            "generated": {**g, "codecs": g_codec,
                          "bytes_per_value": round(g_bpv, 4)}}
        if r["type"] != g["type"]:
            problems.append(f"{name}: type {g['type']} != {r['type']}")
        if r_codec != g_codec:
            problems.append(f"{name}: codecs {g_codec} != {r_codec}")
        if abs(g_bpv - r_bpv) > tolerance * r_bpv:
            problems.append(f"{name}: {g_bpv:.3f} stored B/value vs "
                            f"{r_bpv:.3f}")
    return out, problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tpch-dir", required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--tolerance", type=float, default=0.05,
                    help="allowed relative gap in stored bytes per value")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.fixtures import tpch_tables

    generated = dict(zip(("lineitem", "orders"),
                         tpch_tables(args.sf, args.seed)))
    report, problems = {}, []
    for name, gen in generated.items():
        ref = pq.read_table(os.path.join(args.tpch_dir, f"{name}.parquet"))
        ref = ref.replace_schema_metadata(None)
        if ref.num_rows != gen.num_rows:
            problems.append(f"{name}: {gen.num_rows} rows vs {ref.num_rows}")
        report[name], bad = compare(ref, gen, args.batches, args.tolerance)
        problems += [f"{name}.{p}" for p in bad]
    print(json.dumps({"sf": args.sf, "seed": args.seed, "tables": report,
                      "problems": problems}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
