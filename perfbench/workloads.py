"""The three workloads: set-up, the measured closed loop and the
correctness gate.

Load model: one client (the driver thread) sends the next operation only
after the previous one completed (closed loop, one client), against a
``local[SLOTS]`` session with one task slot per core.

Set-up encodes each workload table several times with
``engine.lineage.encode_job`` into a fresh ``TableIO`` table (its row
count checked); the encodes after the first, on a warm JVM, are the
encode throughput samples. The loop's operations, each counted as
attempted and, on an exception or an output-fingerprint mismatch, as
failed:

* ``decode``: ``decode_blocks(io.read_blocks(), verify=True)`` drained by
  an order-independent fingerprint of every column, compared with the
  input's fingerprint taken untimed in set-up;
* ``probe``: a filtered / limited read (``decode_blocks(filters=...,
  deletes=...)``), checked after the timed window against the same
  predicate evaluated by Spark on the raw parquet with the deletes
  sent so far applied;
* ``delete``: ``engine.deletes.delete_where``, its matched-row count
  checked against the raw parquet the same way;
* ``stats``: ``engine.analyze.metadata_stats``, checked against the
  input's row count and key bounds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

from . import fixtures
from .harness import (SLOTS, RssSampler, cpu_seconds, dir_bytes,
                      filter_column, fingerprint, host_steal, steal_share)

PROBE_KINDS = ("range", "point", "in_range", "limit", "range_del")
LIMIT_ROWS = 500
_ORACLE_AGGS_PER_JOB = 48

# Input sizes: pages rows / TPC-H scale factor per workload; smoke mode
# (--selftest) shrinks them to SMOKE_SIZE.
SMOKE_SIZE = {"pages_rows": 4_000, "sf": 0.001}
SPECS = {
    "pages_text": {
        "size": {"pages_rows": 10_000},
        "tables": {"pages": {"key": "url", "sort_within": True}},
        "probe_table": "pages",
        "probe_cols": ["url", "lang", "warc_ts"],
        "mix": "roundtrip",
    },
    "tpch_numeric": {
        "size": {"sf": 0.1},
        "tables": {"lineitem": {"key": None}, "orders": {"key": None}},
        "probe_table": "lineitem",
        "probe_cols": ["l_orderkey", "l_shipdate", "l_quantity",
                       "l_extendedprice"],
        "mix": "roundtrip",
    },
    "lineitem_probe": {
        "size": {"sf": 0.01},
        "tables": {"lineitem": {"key": None, "cluster_by": "l_shipdate"}},
        "probe_table": "lineitem",
        "probe_cols": None,
        "mix": "probe",
    },
}


class Table:
    def __init__(self, name, path, layout):
        self.name = name
        self.path = path
        self.kw = layout
        self.df = None
        self.cols = None
        self.rows = None
        self.encoded_rows = None
        self.raw_bytes = None
        self.fp = None
        self.io = None

    def encode_kwargs(self) -> dict:
        """The layout arguments every encode entry point takes."""
        return dict(key=self.kw["key"], partitions=SLOTS,
                    sort_within=self.kw.get("sort_within", True),
                    cluster_by=self.kw.get("cluster_by"))


class Workload:
    def __init__(self, name, seed, root, work, tracer, smoke=False):
        self.name = name
        self.spec = SPECS[name]
        # numpy seeds must be non-negative; any int the CLI takes is one
        self.seed = seed % 2**64
        self.root = root
        self.work = work
        self.tracer = tracer
        size = SMOKE_SIZE if smoke else self.spec["size"]
        self.pages_rows = size.get("pages_rows")
        self.sf = size.get("sf")
        self.spark = None
        self.tables = {}
        self.ops = []
        self.setup_walls = []
        # one {"mb", "wall", "cpu", "wall_nosteal"} per measured encode /
        # decode of the workload's tables
        self.encode_runs = []
        self.decode_runs = []
        self.rss = None              # RssSampler from the first fixtures on
        self.stored_bytes = None
        self.blocksets = {}
        self.key_bounds = None
        self._pending = []           # deferred probe / delete checks
        self._deletes = []           # delete predicates live on the table
        self.iterations = 0          # completed; the running one's index
        self.phases = {}             # untimed bookkeeping: where run time went

    def _phase(self, name, t0):
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    # ---- set-up -------------------------------------------------------

    def _fixtures(self):
        fx = os.path.join(self.work, "fixtures")
        if "pages" in self.spec["tables"]:
            path = fixtures.write_pages(
                os.path.join(fx, f"pages_w{self.pages_rows}_s{self.seed}"),
                self.pages_rows, self.seed)
            return {"pages": path}
        return fixtures.write_tpch(
            os.path.join(fx, f"tpch_sf{self.sf}_s{self.seed}"), self.sf,
            self.seed)

    def _table_dir(self, t: Table) -> str:
        return os.path.join(self.work, "tables", f"{self.name}-{t.name}")

    def setup(self, rounds: int):
        """Once: the session (which launches the JVM) and fixture
        generation or read. Then `rounds` encodes of every table into
        fresh TableIO tables, the last of which the loop reads; the
        first also starts and warms the Python worker of every task
        slot. setup_s is the once part plus the median encode round,
        both in nosteal wall time (see _measured); the encodes after the
        first, on a warm JVM and warm workers, are the encode samples.
        Untimed afterwards: raw bytes and fingerprints."""
        from .harness import build_session

        def once():
            t0 = time.perf_counter()
            self.spark = build_session(self.root, self.work)
            self._phase("session", t0)
            tp = time.perf_counter()
            paths = self._fixtures()
            self._phase("fixtures", tp)
            self.rss = RssSampler().start()
            for name, kw in self.spec["tables"].items():
                t = Table(name, paths[name], kw)
                t.df = self.spark.read.parquet(t.path)
                t.cols = t.df.columns
                self.tables[name] = t

        base = []
        for step in [once] + [self._encode_tables] * rounds:
            self._clear_tables()
            _out, meas, err = _measured(step)
            if err is not None:
                raise RuntimeError(f"set-up failed: {err}")
            base.append(meas)
        first = base.pop(0)
        self.setup_walls = [first["wall_nosteal"] + m["wall_nosteal"]
                            for m in base]
        self.phases["setup_rounds_raw_s"] = [first["wall"] + m["wall"]
                                             for m in base]
        tp = time.perf_counter()
        for t in self.tables.values():
            t.raw_bytes = fixtures.raw_bytes(t.path)
            t.fp = fingerprint(t.df, t.cols)
            t.rows = t.fp[0]
            if t.encoded_rows != t.rows:
                raise AssertionError(
                    f"{t.name}: encoded {t.encoded_rows} rows of {t.rows}")
        mb = sum(t.raw_bytes for t in self.tables.values()) / 1e6
        self.encode_runs += [{"mb": mb, **m} for m in base[1:] or base]
        self._after_encode()
        if self.spec["mix"] == "probe":
            from pyspark.sql import functions as F

            pt = self.tables[self.spec["probe_table"]]
            key = pt.cols[0]
            r = pt.df.agg(F.min(key), F.max(key)).collect()[0]
            self.key_bounds = (key, int(r[0]), int(r[1]))
        self._phase("input_fingerprints", tp)

    # ---- operations -----------------------------------------------------

    def _op(self, kind, fn, **info):
        """Run one timed operation; exceptions count as failures."""
        rec = {"kind": kind, "it": self.iterations, "ok": True, **info}
        self.tracer.op_id = len(self.ops)

        def run():
            with self.tracer.span(f"op.{kind}", it=self.iterations):
                return fn(rec)
        out, meas, err = _measured(run)
        rec.update(meas)
        if err is not None:  # the loop keeps running; the op counts failed
            rec["ok"] = False
            rec["error"] = err
        self.tracer.op_id = None
        self.ops.append(rec)
        return rec, out

    def _clear_tables(self):
        for name in self.spec["tables"]:
            shutil.rmtree(os.path.join(self.work, "tables",
                                       f"{self.name}-{name}"),
                          ignore_errors=True)

    def _encode_tables(self):
        """encode_job of every table into a fresh (already emptied)
        TableIO; the encoded row counts are checked after set-up."""
        from sparkolumnar.engine.lineage import encode_job
        from sparkolumnar.engine.tableio import TableIO

        for t in self.tables.values():
            t.io = TableIO(self.spark, self._table_dir(t))
            with self.tracer.span("lineage.encode_job", table=t.name):
                t.encoded_rows = encode_job(self.spark, t.df, t.io,
                                            **t.encode_kwargs()).n_rows

    def _after_encode(self):
        from .harness import blockset_fingerprint

        self.stored_bytes = sum(dir_bytes(t.io.blocks_path)
                                for t in self.tables.values())
        for t in self.tables.values():
            self.blocksets[t.name] = blockset_fingerprint(t.io.blocks_path)
        self._deletes = []

    def op_decode(self):
        from sparkolumnar.engine import decode_blocks

        def fn(rec):
            for t in self.tables.values():
                df = decode_blocks(t.io.read_blocks(), verify=True)
                fp = fingerprint(df, t.cols)
                if fp != t.fp:
                    raise AssertionError(
                        f"{t.name}: decoded fingerprint {fp} != input {t.fp}")
        rec, _ = self._op("decode", fn)
        if rec["ok"]:
            self.decode_runs.append(self._sample(rec))

    def _sample(self, rec) -> dict:
        """A throughput sample: the op's measures with the raw MB of every
        workload table."""
        mb = sum(t.raw_bytes for t in self.tables.values()) / 1e6
        return {"mb": mb, **{k: rec[k] for k in ("wall", "cpu",
                                                   "wall_nosteal")}}

    def op_probe(self, kind, filters, limit=None):
        from sparkolumnar.engine import decode_blocks

        t = self.tables[self.spec["probe_table"]]
        cols = self.spec["probe_cols"] or t.cols
        use_del = kind.endswith("_del")

        def fn(rec):
            tr = self.tracer
            t0 = time.perf_counter()
            with tr.span("decode.plan"):
                dels = t.io.read_deletes() if use_del else None
                df = decode_blocks(t.io.read_blocks(),
                                   columns=self.spec["probe_cols"],
                                   filters=filters, deletes=dels,
                                   limit=limit)
            t1 = time.perf_counter()
            with tr.span("decode.exec"):
                if limit is None:
                    out = fingerprint(df, cols)
                else:
                    out = df.select(*cols).toArrow()
            rec["plan_s"] = t1 - t0
            rec["exec_s"] = time.perf_counter() - t1
            return out

        rec, out = self._op("probe", fn, probe=kind, filters=filters,
                            limit=limit)
        if rec["ok"]:
            self._pending.append((rec, out, cols,
                                  list(self._deletes) if use_del else []))

    def op_delete(self, filters):
        from sparkolumnar.engine.deletes import delete_where

        t = self.tables[self.spec["probe_table"]]

        def fn(rec):
            out = delete_where(t.io, filters)
            rec["blocks_matched"] = out["n_blocks_matched"]
            rec["rows_matched"] = out["n_rows_matched"]
            return out
        rec, out = self._op("delete", fn, filters=filters)
        if rec["ok"]:
            self._pending.append((rec, out, None, None))
            self._deletes.append(filters)

    def op_stats(self):
        from sparkolumnar.engine.analyze import metadata_stats

        t = self.tables[self.spec["probe_table"]]

        def fn(rec):
            rows = metadata_stats(t.io.read_blocks()).collect()
            key, lo, hi = self.key_bounds
            by_col = {r["column"]: r for r in rows}
            if set(by_col) != set(t.cols):
                raise AssertionError(f"stats columns {sorted(by_col)}")
            bad = [c for c, r in by_col.items() if r["n_rows"] != t.rows]
            k = by_col[key]
            if bad or (k["min_i64"], k["max_i64"]) != (lo, hi):
                raise AssertionError(
                    f"stats mismatch: rows {bad}, {key} "
                    f"[{k['min_i64']}, {k['max_i64']}] != [{lo}, {hi}]")
        self._op("stats", fn)

    def reset_deletes(self):
        """Untimed: drop the table's delete files so every iteration
        starts from the same table."""
        t = self.tables[self.spec["probe_table"]]
        shutil.rmtree(t.io.deletes_path, ignore_errors=True)
        self._deletes = []

    # ---- the closed loop ------------------------------------------------

    def iteration_ops(self, rng):
        """The seeded operations of one iteration, as thunks."""
        if self.spec["mix"] == "roundtrip":
            if self.name == "pages_text":
                p = fixtures.pages_predicates(rng, self.seed,
                                              self.pages_rows)
                point = p["in"]
            else:
                p = fixtures.lineitem_predicates(
                    rng, self.tables["orders"].rows)
                point = p["eq"]
            return [self.reset_deletes, self.op_decode,
                    lambda: self.op_probe("range", p["range"]),
                    lambda: self.op_probe("point", point),
                    lambda: self.op_delete(p["delete"]),
                    lambda: self.op_probe("range_del", p["range_del"])]
        n_orders = self.key_bounds[2] + 1
        p = fixtures.lineitem_predicates(rng, n_orders)
        return [self.reset_deletes,
                lambda: self.op_probe("range", p["range"]),
                lambda: self.op_probe("point", p["eq"]),
                lambda: self.op_probe("in_range", p["in_range"]),
                lambda: self.op_probe("limit", None, limit=LIMIT_ROWS),
                self.op_stats,
                lambda: self.op_delete(p["delete"]),
                lambda: self.op_probe("range_del", p["range_del"]),
                self.op_decode]

    def run_loop(self, seconds: float):
        """Run operations until `seconds` have passed and at least one
        whole iteration completed; records the share of busy host CPU
        time the hypervisor stole meanwhile (run-to-run noise)."""
        before = host_steal()
        elapsed = self._loop(seconds)
        self.phases["host_steal_share"] = steal_share(before, host_steal())
        return elapsed

    def _loop(self, seconds):
        t0 = time.perf_counter()
        while True:
            rng = np.random.default_rng([self.seed, self.iterations])
            for op in self.iteration_ops(rng):
                op()
                if (self.iterations >= 1
                        and time.perf_counter() - t0 >= seconds):
                    return time.perf_counter() - t0
            self.iterations += 1
            if time.perf_counter() - t0 >= seconds:
                return time.perf_counter() - t0

    # ---- deferred correctness checks -------------------------------------

    def check_pending(self):
        """Evaluate every probe / delete of the run against the raw
        parquet (untimed) and mark mismatches as failed operations."""
        from pyspark.sql import functions as F

        tp = time.perf_counter()
        t = self.tables[self.spec["probe_table"]]
        raw = t.df
        aggs, slots = [], []
        for idx, (rec, out, cols, dels) in enumerate(self._pending):
            if rec["kind"] == "delete":
                aggs.append(F.count(F.when(filter_column(rec["filters"]), 1)))
                slots.append((idx, "delete"))
                continue
            if rec.get("limit") is not None:
                continue
            cond = filter_column(rec["filters"])
            for d in dels:
                cond = cond & ~filter_column(d)
            h = F.xxhash64(*[F.col(c) for c in cols])
            aggs += [F.count(F.when(cond, 1)),
                     F.sum(F.when(cond, h.bitwiseAND(0xFFFFFFFF))),
                     F.sum(F.when(cond, F.shiftrightunsigned(h, 32)))]
            slots.append((idx, "probe"))
        values = []
        for i in range(0, len(aggs), _ORACLE_AGGS_PER_JOB):
            values += list(raw.agg(*aggs[i:i + _ORACLE_AGGS_PER_JOB])
                           .collect()[0])
        pos = 0
        for idx, what in slots:
            rec, out, _cols, _dels = self._pending[idx]
            if what == "delete":
                want = int(values[pos])
                pos += 1
                if out["n_rows_matched"] != want:
                    self._fail(rec, f"deleted {out['n_rows_matched']} rows, "
                                    f"raw parquet matches {want}")
                continue
            want = tuple(int(v or 0) for v in values[pos:pos + 3])
            pos += 3
            if tuple(out) != want:
                self._fail(rec, f"probe fingerprint {tuple(out)} != {want}")
        for rec, out, cols, dels in self._pending:
            if rec.get("limit") is not None:
                self._check_limit(rec, out, cols, dels, raw)
        self._pending = []
        self._phase("oracle", tp)

    def _check_limit(self, rec, out, cols, dels, raw):
        """A preview must return `limit` rows, every one a live input row."""
        want = min(rec["limit"], self.tables[self.spec["probe_table"]].rows)
        if out.num_rows != want:
            self._fail(rec, f"preview has {out.num_rows} rows, want {want}")
            return
        live = raw
        for d in dels:
            live = live.where(~filter_column(d))
        got = self.spark.createDataFrame(out)
        missing = got.join(live.select(*cols), on=cols, how="left_anti").count()
        if missing:
            self._fail(rec, f"{missing} preview rows are not live input rows")

    def _fail(self, rec, why):
        rec["ok"] = False
        rec["error"] = why
        print(f"[perfbench] {self.name} op {rec['kind']} failed: {why}",
              file=sys.stderr)


def _measured(fn):
    """(fn() or None, {"wall", "cpu", "wall_nosteal"}, error or None).
    wall_nosteal scales the wall time by the share of busy host CPU the
    hypervisor did not steal meanwhile: unlike CPU time it still sees a
    change in parallelism, unlike the raw wall it does not swing with
    steal. An exception is printed and returned as its text."""
    st0, cpu0, t0 = host_steal(), cpu_seconds(), time.perf_counter()
    out = err = None
    try:
        out = fn()
    except Exception as e:
        err = f"{type(e).__name__}: {e}"[:500]
        traceback.print_exc(file=sys.stderr)
    wall = time.perf_counter() - t0
    return out, {"wall": wall, "cpu": cpu_seconds() - cpu0,
                 "wall_nosteal": wall * (1 - steal_share(st0, host_steal()))
                 }, err
