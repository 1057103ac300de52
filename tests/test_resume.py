"""Exactly-once resume: kill after k partitions (simulated), re-run,
assert complete non-duplicated output and a consistent checkpoint."""

import pytest
from pyspark.sql import functions as F

from sparkolumnar.datagen import pages_df
from sparkolumnar.engine import decode_blocks
from sparkolumnar.engine.lineage import encode_job, lineage_of
from sparkolumnar.engine.tableio import TableIO

N_ROWS = 3000
P = 8


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    cache = str(tmp_path_factory.mktemp("pages_resume"))
    return pages_df(spark, N_ROWS, cache_dir=cache)


def test_kill_and_resume_exactly_once(spark, pages, tmp_path):
    io = TableIO(spark, str(tmp_path / "t"))
    # run 1 "dies" after 3 of 8 partitions
    r1 = encode_job(spark, pages, io, key="url", partitions=P, run_id="r1",
                    only_parts={0, 1, 2})
    assert r1.parts_encoded == 3
    assert io.committed_parts(r1.snapshot_id) == {0, 1, 2}

    # run 2 resumes: must skip the 3 committed partitions
    r2 = encode_job(spark, pages, io, key="url", partitions=P, run_id="r2")
    assert r2.parts_done_before == 3
    assert r2.parts_encoded == P - 3
    assert io.committed_parts(r2.snapshot_id) == set(range(P))

    blocks = io.read_blocks()
    # exactly-once: block ids unique, total rows == input rows
    assert blocks.count() == blocks.select("block_id").distinct().count()
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS
    # decoded output matches the input bit-for-bit
    decoded = decode_blocks(blocks, verify=True)
    assert decoded.count() == N_ROWS
    diff = decoded.select("url", "text").exceptAll(pages.select("url", "text"))
    assert diff.count() == 0

    # run 3 on the same snapshot is a no-op
    r3 = encode_job(spark, pages, io, key="url", partitions=P, run_id="r3")
    assert r3.parts_encoded == 0


def test_rerun_overwrite_is_idempotent(spark, pages, tmp_path):
    """Crash between blocks-commit and checkpoint-commit: the partition is
    re-encoded and must overwrite its own files identically."""
    io = TableIO(spark, str(tmp_path / "t2"))
    r1 = encode_job(spark, pages, io, key="url", partitions=P, run_id="r1",
                    only_parts={0, 1})
    ids_before = {r["block_id"] for r in
                  io.read_blocks().select("block_id").collect()}
    # simulate the crash: wipe the checkpoint (blocks stayed)
    import shutil
    shutil.rmtree(io.checkpoint_path)
    r2 = encode_job(spark, pages, io, key="url", partitions=P, run_id="r2")
    assert r2.parts_encoded == P  # checkpoint was lost -> full re-run
    blocks = io.read_blocks()
    ids_after = {r["block_id"] for r in blocks.select("block_id").collect()}
    # deterministic re-encode: parts 0,1 produced identical block ids
    assert ids_before <= ids_after
    assert blocks.count() == blocks.select("block_id").distinct().count()
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS


def test_lineage_projection_has_all_columns(spark, pages, tmp_path):
    io = TableIO(spark, str(tmp_path / "t3"))
    encode_job(spark, pages, io, key="url", partitions=4, run_id="r1")
    lin = lineage_of(io.read_blocks())
    rows = lin.groupBy("column").agg(
        F.sum("bytes_in").alias("bi"), F.sum("bytes_out").alias("bo"),
        F.count("*").alias("n")).collect()
    cols = {r["column"] for r in rows}
    assert cols == {"url", "warc_ts", "html", "text", "lang"}
    for r in rows:
        assert r["bo"] > 0 and r["bi"] > 0


def test_cluster_by_job_kill_and_resume(spark, pages, tmp_path):
    """The range-clustered layout goes through the same exactly-once
    protocol: kill after 2 of 4 partitions, resume, bit-identical decode,
    and the layout actually clusters (disjoint-ish per-part ts ranges)."""
    io = TableIO(spark, str(tmp_path / "tc"))
    r1 = encode_job(spark, pages, io, partitions=4, run_id="r1",
                    cluster_by="warc_ts", only_parts={0, 1})
    assert r1.parts_encoded == 2
    r2 = encode_job(spark, pages, io, partitions=4, run_id="r2",
                    cluster_by="warc_ts")
    assert r2.parts_done_before == 2 and r2.parts_encoded == 2
    blocks = io.read_blocks()
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS
    decoded = decode_blocks(blocks, verify=True)
    diff = decoded.select("url", "text").exceptAll(pages.select("url", "text"))
    assert diff.count() == 0
    # clustering: each block's warc_ts zone covers a NARROW slice of the
    # global range (that tightness is what zone pruning needs; partitions
    # themselves are hash-of-bucket so not range-ordered). For unclustered
    # layout every block would span ~the whole range.
    zones = (blocks.select(F.explode("columns").alias("c"))
             .filter(F.col("c.name") == "warc_ts")
             .select(F.col("c.min_i64").alias("lo"),
                     F.col("c.max_i64").alias("hi")).collect())
    global_lo = min(z["lo"] for z in zones)
    global_hi = max(z["hi"] for z in zones)
    span = global_hi - global_lo
    avg_block_span = sum(z["hi"] - z["lo"] for z in zones) / len(zones)
    assert avg_block_span < 0.6 * span, (avg_block_span, span, len(zones))


def test_cluster_by_snapshot_identity_includes_layout(spark, pages, tmp_path):
    """ADVICE r4: the cluster_by bucket layout is part of the snapshot
    identity — a resume across a layout-version change must become a
    fresh snapshot (old-layout parts must not satisfy the skip-set),
    and the id must still be deterministic run-to-run."""
    from sparkolumnar.engine.encode import (CLUSTER_LAYOUT_VERSION,
                                            clustered_snapshot_id)
    from sparkolumnar.engine.tableio import snapshot_of_input

    base = snapshot_of_input(pages)
    clustered = clustered_snapshot_id(base, "warc_ts")
    assert clustered != base
    assert clustered == clustered_snapshot_id(base, "warc_ts")  # stable
    assert clustered != clustered_snapshot_id(base, "url")  # cols matter
    io = TableIO(spark, str(tmp_path / "tcs"))
    r1 = encode_job(spark, pages, io, partitions=2, run_id="r1",
                    cluster_by="warc_ts", only_parts={0})
    assert r1.snapshot_id == clustered
    # hash-layout job on the same input keeps the plain identity: the
    # clustered partial commit must not be mistaken for its progress
    r2 = encode_job(spark, pages, io, partitions=2, run_id="r2")
    assert r2.snapshot_id == base and r2.parts_done_before == 0
    assert CLUSTER_LAYOUT_VERSION >= 2


def _checkpoint_by_part(io, snap):
    rows = (io.read_checkpoint().filter(F.col("snapshot_id") == snap)
            .collect())
    out = {r["part_id"]: (r["n_blocks"], r["n_rows"], r["bytes_in"],
                          r["bytes_out"]) for r in rows}
    assert len(out) == len(rows)  # one checkpoint row per part
    return out


def _join_definition(io, snap):
    """The per-part checkpoint metrics as the join of per-part block
    counts with lineage_of's byte sums."""
    landed = io.read_blocks().filter(F.col("snapshot_id") == snap)
    per_part = landed.groupBy("part_id").agg(
        F.count("*").alias("n_blocks"), F.sum("n_rows").alias("n_rows"))
    metrics = lineage_of(landed).groupBy("part_id").agg(
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"))
    return {r["part_id"]: (r["n_blocks"], r["n_rows"], r["bytes_in"],
                           r["bytes_out"])
            for r in per_part.join(metrics, "part_id").collect()}


def _checkpoint_files(io):
    import os

    return sorted(f for f in os.listdir(io.checkpoint_path)
                  if f.endswith(".parquet"))


def test_checkpoint_rows_match_landed_blocks(spark, pages, tmp_path):
    """Each part's checkpoint row equals the per-part block aggregate
    joined with lineage_of's byte sums, after a kill-and-resume and after
    a no-op re-run; the struct column's sketch-only entries carry no
    lineage; a re-run with every part done writes no checkpoint file."""
    from sparkolumnar.engine.blocks import SKETCH_CODEC

    df = pages.withColumn("meta", F.struct(
        F.length("text").alias("n_chars"), F.col("lang").alias("lang")))
    io = TableIO(spark, str(tmp_path / "cp"))
    r1 = encode_job(spark, df, io, key="url", partitions=4, run_id="r1",
                    only_parts={1, 3})
    snap = r1.snapshot_id
    assert _checkpoint_by_part(io, snap) == _join_definition(io, snap)
    assert set(_checkpoint_by_part(io, snap)) == {1, 3}
    r2 = encode_job(spark, df, io, key="url", partitions=4, run_id="r2")
    assert r2.parts_encoded == 2
    expected = _join_definition(io, snap)
    assert set(expected) == {0, 1, 2, 3}
    assert _checkpoint_by_part(io, snap) == expected
    n_sketch = (io.read_blocks().select(F.explode("columns").alias("c"))
                .filter(F.col("c.codec") == SKETCH_CODEC).count())
    assert n_sketch > 0  # the struct children's sketch entries exist
    # the job result sums the rows this run committed
    assert (r1.n_rows + r2.n_rows, r1.bytes_out + r2.bytes_out) == (
        sum(v[1] for v in expected.values()),
        sum(v[3] for v in expected.values()))
    files = _checkpoint_files(io)
    assert len(files) == 2  # one file per committing run
    r3 = encode_job(spark, df, io, key="url", partitions=4, run_id="r3")
    assert (r3.parts_done_before, r3.parts_encoded) == (4, 0)
    assert _checkpoint_files(io) == files
    assert _checkpoint_by_part(io, snap) == expected


def test_checkpoint_mixes_spark_and_driver_written_files(spark, tmp_path):
    """A checkpoint directory written by Spark (an older writer) and then
    appended to from the driver reads back with one schema, and the skip
    set covers the parts of both files."""
    from sparkolumnar.engine.tableio import checkpoint_rows

    io = TableIO(spark, str(tmp_path / "mixed"))
    (spark.createDataFrame(
        [("s1", 0, 2, 100, 4000, 1000, "r1", "committed")],
        "snapshot_id string, part_id int, n_blocks long, n_rows long, "
        "bytes_in long, bytes_out long, run_id string, status string")
     .coalesce(1).write.mode("append").parquet(io.checkpoint_path))
    spark_files = _checkpoint_files(io)
    io.append_checkpoint(checkpoint_rows("s1", "r2", [
        {"part_id": 1, "n_blocks": 3, "n_rows": 150, "bytes_in": 6000,
         "bytes_out": 1500}]))
    io.append_checkpoint([])  # nothing to commit: no file
    assert len(spark_files) == 1 and len(_checkpoint_files(io)) == 2
    want = ("struct<snapshot_id:string,part_id:int,n_blocks:bigint,"
            "n_rows:bigint,bytes_in:bigint,bytes_out:bigint,"
            "run_id:string,status:string>")
    assert spark.read.parquet(io.checkpoint_path).schema.simpleString() \
        == want
    assert io.read_checkpoint().schema.simpleString() == want
    assert io.committed_parts("s1") == {0, 1}
    assert io.committed_parts("s2") == set()
