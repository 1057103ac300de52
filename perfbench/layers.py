"""Per-layer measurement for the traced run.

Two views, both driven from the benchmark's own files:

* Spark stage split: each layer is the wall-time difference between two
  sink jobs that share a prefix (scan; + layout shuffle; + identity
  ``mapInArrow``; + ``encode_table``; + ``TableIO.write_blocks``; the
  rest of ``encode_job``), and the mirror split for decode.
* In-task replay: the exact Arrow batches each encode task sees are
  captured once, then replayed in this process through ``encode_batch``
  and ``decode_block_row`` with spans around the public entry points
  (``encode_batch``, ``select_encode``, ``canonical_checksum`` and every
  registered codec's ``encode`` / ``decode``).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time

from .harness import median

CODECS = ("plain", "split", "rle", "bool_rle", "delta_rle", "dod",
          "for_bitpack", "bitpack", "dict", "fsst", "byteplane", "zstd")
STAGES = ("encode.scan_s", "encode.layout_s", "encode.ipc_in_s",
          "encode.udf_s", "tableio.write_s", "lineage.checkpoint_s",
          "plan.build_plan_s", "decode.scan_s", "decode.udf_s",
          "decode.ipc_out_s")


# Probe kinds every gated workload sends (the probe mix adds in_range and
# limit previews).
SHARED_PROBE_KINDS = ("range", "point", "range_del")


def per_layer_units():
    """{metric: unit}: the per-layer metrics on the traced run's last line
    (BENCHMARK.json's per_layer). A time is listed here only when its
    layer runs on every gated workload, so that no listed time reads 0
    by construction; the others are in report_layer_units()."""
    from .workloads import PROBE_KINDS

    units = {s: "s" for s in STAGES}
    units.update({
        "encode.batch_s": "s", "encode.sketch_self_s": "s",
        "blocks.checksum_s": "s", "selector.select_s": "s",
        "selector.candidates": "count", "selector.useful_ratio": "ratio",
        "codecs.encode_s": "s", "codecs.decode_s": "s",
        "decode.block_row_s": "s", "decode.verify_checksum_s": "s"})
    for c in CODECS:
        units.update({f"codecs.{c}.wins": "count",
                      f"codecs.{c}.bytes_out": "B"})
    for k in SHARED_PROBE_KINDS:
        units.update({f"decode.plan_s.{k}": "s", f"decode.exec_s.{k}": "s"})
    for k in PROBE_KINDS:
        units.update({f"decode.blocks_kept.{k}": "count",
                      f"decode.keep_ratio.{k}": "ratio",
                      f"decode.payload_mb_scanned.{k}": "MB"})
    units.update({
        "deletes.delete_where_s": "s", "deletes.blocks_matched": "count",
        "deletes.rows_matched": "count",
        "deletes.read_overhead_ratio": "ratio",
        "recon.encode_stage_sum_ratio": "ratio",
        "recon.decode_stage_sum_ratio": "ratio",
        "recon.busy_vs_udf_slots_ratio": "ratio",
        "trace.overhead_ratio": "ratio"})
    return units


def report_layer_units():
    """{metric: unit}: per-layer times of layers that only some workloads
    run (a codec no column of a workload tries, the probe mix's extra
    probe kinds and metadata_stats); in the report line only."""
    from .workloads import PROBE_KINDS

    units = {"selector.loser_encode_s": "s", "analyze.metadata_stats_s": "s"}
    for c in CODECS:
        units.update({f"codecs.{c}.encode_s": "s",
                      f"codecs.{c}.decode_s": "s"})
    for k in PROBE_KINDS:
        if k not in SHARED_PROBE_KINDS:
            units.update({f"decode.plan_s.{k}": "s",
                          f"decode.exec_s.{k}": "s"})
    return units


# ---- task-side functions (imported by the Python workers) ---------------

def make_drain_fn():
    """Identity mapInArrow stage that consumes its input and yields no
    rows: the JVM->Python IPC leg alone."""
    def fn(batches):
        for _ in batches:
            pass
        return
        yield  # noqa: unreachable — makes fn a generator

    return fn


def make_capture_fn(out_dir: str):
    """Write every non-empty batch a task sees to out_dir as
    p<partition>_s<seq>.arrow (the same seq numbering encode uses)."""
    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for seq, b in enumerate(batches):
            if b.num_rows == 0:
                continue
            path = os.path.join(out_dir, f"p{pid:05d}_s{seq:05d}.arrow")
            with pa.OSFile(path, "wb") as f, \
                    pa.ipc.new_file(f, b.schema) as w:
                w.write_batch(b)
        return
        yield  # noqa: unreachable

    return fn


def block_rows(batch):
    """Blocks-table rows as decode_block_row input, payloads zero-copy
    (the way the engine's decode task hands them over)."""
    from sparkolumnar.engine.decode import _BASE_COLS

    names = batch.schema.names
    meta = batch.select([n for n in names if n in _BASE_COLS]).to_pylist()
    pay = [(n, batch.column(i)) for i, n in enumerate(names)
           if n not in _BASE_COLS]
    for j, row in enumerate(meta):
        for n, col in pay:
            s = col[j]
            row[n] = memoryview(s.as_buffer()) if s.is_valid else None
        yield row


def make_decode_drain_fn():
    """decode_block_row(verify=True) per block, yielding nothing."""
    def fn(batches):
        from sparkolumnar.engine.decode import decode_block_row

        for b in batches:
            for row in block_rows(b):
                decode_block_row(row, verify=True)
        return
        yield  # noqa: unreachable

    return fn


# ---- Spark stage split ---------------------------------------------------

def _sink(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def stage_split(w, tracer):
    """(stage split summed over the workload's tables, wall of the full
    decode into a no-op sink)."""
    from sparkolumnar.engine import decode_blocks, encode_table
    from sparkolumnar.engine.encode import layout_for_encode
    from sparkolumnar.engine.lineage import encode_job
    from sparkolumnar.engine.plan import build_plan
    from sparkolumnar.engine.tableio import TableIO, snapshot_of_input

    out = dict.fromkeys(STAGES, 0.0)
    decode_noop = 0.0
    for t in w.tables.values():
        df, lay_kw = t.df, t.encode_kwargs()

        def span(name, fn):
            with tracer.span(name, table=t.name):
                return _timed(fn)

        t_plan0 = time.perf_counter()
        with tracer.span("split.plan", table=t.name):
            plan = build_plan(df)
        plan_s = time.perf_counter() - t_plan0
        snap = snapshot_of_input(df)
        j_scan = span("split.scan", lambda: _sink(df))
        j_lay = span("split.layout",
                     lambda: _sink(layout_for_encode(df, **lay_kw)))
        j_ipc = span("split.ipc_in", lambda: _sink(
            layout_for_encode(df, **lay_kw).mapInArrow(make_drain_fn(),
                                                       "x int")))

        def blocks():
            return encode_table(df, snapshot_id=snap, plan=plan, **lay_kw)

        j_udf = span("split.udf", lambda: _sink(blocks()))
        base = os.path.join(w.work, "split", t.name)
        shutil.rmtree(base, ignore_errors=True)
        io = TableIO(w.spark, base + "-write")
        j_write = span("split.write", lambda: io.write_blocks(blocks()))
        io2 = TableIO(w.spark, base + "-job")
        j_job = span("split.encode_job", lambda: encode_job(
            w.spark, df, io2, **lay_kw))
        out["plan.build_plan_s"] += plan_s
        out["encode.scan_s"] += j_scan
        out["encode.layout_s"] += j_lay - j_scan
        out["encode.ipc_in_s"] += j_ipc - j_lay
        out["encode.udf_s"] += j_udf - j_ipc
        out["tableio.write_s"] += j_write - j_udf
        out["lineage.checkpoint_s"] += j_job - j_write - plan_s

        d_scan = span("split.decode_scan", lambda: _sink(t.io.read_blocks()))
        d_udf = span("split.decode_udf", lambda: _sink(
            t.io.read_blocks().mapInArrow(make_decode_drain_fn(), "x int")))
        d_full = span("split.decode_full", lambda: _sink(
            decode_blocks(t.io.read_blocks(), verify=True)))
        out["decode.scan_s"] += d_scan
        out["decode.udf_s"] += d_udf - d_scan
        out["decode.ipc_out_s"] += d_full - d_udf
        decode_noop += d_full
        shutil.rmtree(base + "-write", ignore_errors=True)
        shutil.rmtree(base + "-job", ignore_errors=True)
    return out, decode_noop


# ---- in-task replay --------------------------------------------------------

class _Patches:
    """Span wrappers around the engine's public in-task entry points,
    installed on the driver process only and removed on exit."""

    def __init__(self, tracer):
        self.tracer = tracer
        self._undo = []

    def _set(self, obj, attr, value):
        had = attr in vars(obj)
        self._undo.append((obj, attr, getattr(obj, attr), had))
        setattr(obj, attr, value)

    def __enter__(self):
        from sparkolumnar.codecs import core
        from sparkolumnar.engine import decode as dec
        from sparkolumnar.engine import encode as enc

        tr = self.tracer

        def winner(attrs, choice):
            attrs["winner"] = choice.codec
            attrs["bytes"] = len(choice.payload)

        def size(attrs, payload):
            attrs["bytes"] = len(payload)

        self._set(enc, "encode_batch", tr.wrap("encode.batch",
                                               enc.encode_batch))
        self._set(enc, "select_encode", tr.wrap("selector.select",
                                                enc.select_encode, winner))
        self._set(enc, "canonical_checksum", tr.wrap(
            "blocks.checksum", enc.canonical_checksum))
        self._set(dec, "canonical_checksum", tr.wrap(
            "decode.verify_checksum", dec.canonical_checksum))
        for name, codec in core._REGISTRY.items():
            self._set(codec, "encode", tr.wrap(f"codec.encode.{name}",
                                               codec.encode, size))
            self._set(codec, "decode", tr.wrap(f"codec.decode.{name}",
                                               codec.decode))
        return self

    def __exit__(self, *exc):
        for obj, attr, old, had in reversed(self._undo):
            if had:
                setattr(obj, attr, old)
            else:
                delattr(obj, attr)


def capture_batches(w) -> dict:
    """{table: capture dir} of the batches every encode task sees."""
    from sparkolumnar.engine.encode import layout_for_encode

    dirs = {}
    for t in w.tables.values():
        d = os.path.join(w.work, "capture", t.name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        _sink(layout_for_encode(t.df, **t.encode_kwargs())
              .mapInArrow(make_capture_fn(d), "x int"))
        dirs[t.name] = d
    return dirs


def _replay(w, dirs, plans, tracer=None):
    """Encode every captured batch, then decode every stored block, in
    this process; returns (encode wall, decode wall)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkolumnar.engine import encode as enc
    from sparkolumnar.engine.decode import decode_block_row

    t_enc = 0.0
    for t in w.tables.values():
        for path in sorted(glob.glob(os.path.join(dirs[t.name], "*.arrow"))):
            pid, seq = (int(x[1:]) for x in
                        os.path.basename(path)[:-6].split("_"))
            with pa.memory_map(path) as src:
                batch = pa.ipc.open_file(src).get_batch(0)
            t0 = time.perf_counter()
            enc.encode_batch(batch, "replay", pid, seq, plan=plans[t.name])
            t_enc += time.perf_counter() - t0
    t_dec = 0.0
    for t in w.tables.values():
        for path in sorted(glob.glob(os.path.join(
                t.io.blocks_path, "**", "*.parquet"), recursive=True)):
            for batch in pq.ParquetFile(path).iter_batches(batch_size=64):
                for row in block_rows(batch):
                    t0 = time.perf_counter()
                    with (tracer.span("decode.block_row") if tracer
                          else contextlib.nullcontext()):
                        decode_block_row(row, verify=True)
                    t_dec += time.perf_counter() - t0
    return t_enc, t_dec


def replay(w, tracer):
    """(per-layer metrics, untraced in-task encode busy seconds) from
    replaying the captured batches untraced, traced, untraced."""
    from sparkolumnar.engine.plan import build_plan

    dirs = capture_batches(w)
    plans = {t.name: build_plan(t.df) for t in w.tables.values()}
    # untraced passes on both sides of the traced one, so cache warmth
    # does not favour either
    off_enc, off_dec = _replay(w, dirs, plans)
    first = len(tracer.spans)
    with _Patches(tracer):
        on_enc, on_dec = _replay(w, dirs, plans, tracer)
    spans = tracer.spans[first:]
    off2_enc, off2_dec = _replay(w, dirs, plans)
    off_enc = (off_enc + off2_enc) / 2
    off_dec = (off_dec + off2_dec) / 2
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    m = span_metrics(spans)
    m["trace.overhead_ratio"] = (on_enc + on_dec) / (off_enc + off_dec)
    return m, off_enc


def span_metrics(spans) -> dict:
    """Per-layer metrics from replay spans."""
    from collections import defaultdict

    dur = {sid: t1 - t0 for sid, _p, _o, _n, t0, t1, _a in spans}
    name = {s[0]: s[3] for s in spans}
    kids = defaultdict(list)
    for s in spans:
        if s[1] is not None:
            kids[s[1]].append(s)
    tot = defaultdict(float)
    self_batch = 0.0
    m = {f"codecs.{c}.{k}": 0 for c in CODECS
         for k in ("encode_s", "wins", "bytes_out", "decode_s")}
    cands = wins = 0
    loser = 0.0
    for sid, _p, _o, n, t0, t1, attrs in spans:
        tot[n] += t1 - t0
        if n == "encode.batch":
            self_batch += (t1 - t0) - sum(dur[k[0]] for k in kids[sid])
        elif n.startswith("codec."):
            _, what, c = n.split(".", 2)
            key = f"codecs.{c}.{what}_s"
            if key in m:
                m[key] += t1 - t0
        elif n == "selector.select":
            c = attrs.get("winner")
            encs = [k for k in kids[sid]
                    if name[k[0]].startswith("codec.encode.")]
            cands += len(encs)
            wins += 1
            won = [k for k in encs if name[k[0]] == f"codec.encode.{c}"]
            loser += (sum(dur[k[0]] for k in encs)
                      - (dur[won[-1][0]] if won else 0.0))
            if f"codecs.{c}.wins" in m:
                m[f"codecs.{c}.wins"] += 1
                m[f"codecs.{c}.bytes_out"] += attrs.get("bytes", 0)
    m.update({
        "encode.batch_s": tot["encode.batch"],
        "encode.sketch_self_s": self_batch,
        "blocks.checksum_s": tot["blocks.checksum"],
        "selector.select_s": tot["selector.select"],
        "selector.candidates": cands,
        "selector.useful_ratio": wins / cands if cands else 0.0,
        "selector.loser_encode_s": loser,
        "codecs.encode_s": sum(m[f"codecs.{c}.encode_s"] for c in CODECS),
        "codecs.decode_s": sum(m[f"codecs.{c}.decode_s"] for c in CODECS),
        "decode.block_row_s": tot["decode.block_row"],
        "decode.verify_checksum_s": tot["decode.verify_checksum"],
    })
    return m


# ---- probe / DML layers from the loop's operation records -------------------

def load_block_meta(blocks_path: str):
    """Block metadata rows in decode order (snapshot, part, seq)."""
    import pyarrow.parquet as pq

    rows = pq.read_table(blocks_path, columns=[
        "snapshot_id", "part_id", "seq", "n_rows", "columns"]).to_pylist()
    rows.sort(key=lambda r: (str(r["snapshot_id"]), int(r["part_id"]),
                             r["seq"]))
    return rows


def probe_metrics(w, meta) -> dict:
    """Per-kind probe layers plus delete/stats layers from w.ops."""
    from sparkolumnar.engine.decode import block_keep_py

    from .workloads import PROBE_KINDS

    t = w.tables[w.spec["probe_table"]]
    cols = set(w.spec["probe_cols"] or t.cols)
    out = {}
    walls = {}
    for k in PROBE_KINDS:
        recs = [r for r in w.ops if r.get("probe") == k and r["ok"]]
        walls[k] = [r["wall"] for r in recs]
        kept_n, mb = [], []
        for r in recs:
            if r.get("limit") is not None:
                kept, need = [], r["limit"]
                for b in meta:
                    if need <= 0:
                        break
                    kept.append(b)
                    need -= b["n_rows"]
            else:
                kept = [b for b in meta
                        if block_keep_py(b["columns"], r["filters"],
                                         session_tz="UTC")]
            kept_n.append(len(kept))
            mb.append(sum(c["bytes_out"] for b in kept for c in b["columns"]
                          if c["name"] in cols) / 1e6)
        out[f"decode.plan_s.{k}"] = median([r["plan_s"] for r in recs]) or 0.0
        out[f"decode.exec_s.{k}"] = median([r["exec_s"] for r in recs]) or 0.0
        out[f"decode.blocks_kept.{k}"] = median(kept_n) or 0
        out[f"decode.keep_ratio.{k}"] = ((median(kept_n) or 0) / len(meta)
                                         if meta else 0.0)
        out[f"decode.payload_mb_scanned.{k}"] = median(mb) or 0.0
    dels = [r for r in w.ops if r["kind"] == "delete" and r["ok"]]
    stats = [r["wall"] for r in w.ops if r["kind"] == "stats" and r["ok"]]
    # the read-back window around a delete against a plain range probe
    with_del, without = walls["range_del"], walls["range"]
    out.update({
        "deletes.delete_where_s": median([r["wall"] for r in dels]) or 0.0,
        "deletes.blocks_matched": median([r["blocks_matched"]
                                          for r in dels]) or 0,
        "deletes.rows_matched": median([r["rows_matched"] for r in dels]) or 0,
        "deletes.read_overhead_ratio": (median(with_del) / median(without)
                                        if with_del and without else 0.0),
        "analyze.metadata_stats_s": median(stats) or 0.0,
    })
    return out
