"""Streaming decode: readStream over a growing blocks table -> original
rows, continuously. Decode is stateless and shuffle-free (one block row ->
one Arrow batch), so it composes directly with Structured Streaming: the
same mapInArrow UDF runs under the micro-batch engine unchanged.

Scope note — merge-on-read deletes: a stream emits each block's rows
exactly once, when the block ARRIVES; delete bitmaps written later
cannot retract rows already emitted (streams are append-only — the same
reason Iceberg's streaming reads reject tables with later deletes
rather than silently missing them). Tables maintained by DML should be
read in batch (decode_blocks(deletes=) / decode_job, which apply the
bitmaps by default), or compacted so the deletes are physical before
streaming.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, types as T

from ..engine.decode import (_first_block_meta, _schema_from_meta,
                             make_decode_fn)


def decode_stream(spark: SparkSession, blocks_path: str,
                  schema: Optional[T.StructType] = None,
                  verify: bool = False,
                  columns: Optional[List[str]] = None,
                  filters=None) -> DataFrame:
    """Streaming DataFrame of decoded rows from a blocks directory.

    The decoded-output schema must be known up front for a stream; it is
    inferred from the existing blocks (or pass `schema`).

    filters: same predicate list as decode_blocks(filters=) — the
    zone-map/bloom block pruning is a STATELESS where() on metadata
    leaves, so it composes with the micro-batch engine unchanged: pruned
    blocks of every arriving file are dropped before their payloads reach
    the decode UDF, and the exact row filter applies after. (The
    partition prepass is a driver-side metadata job and does not apply to
    a stream.)
    """
    static = spark.read.parquet(blocks_path)
    out_cols = None
    if filters and columns is not None:
        from ..engine.decode import filter_columns_of

        missing = [c for c in filter_columns_of(filters)
                   if c not in columns]
        if missing:  # filter columns must be decoded; dropped after
            out_cols = list(columns)
            columns = list(columns) + missing
            if schema is not None:
                # mirror decode_blocks: a user-supplied schema that lacks
                # the filter columns cannot be the mapInArrow output
                # schema (the decoded batches carry the extra columns) —
                # re-infer from the extended column set
                schema = None
    # one metadata read serves the output schema and the filter types
    meta = _first_block_meta(static) if filters or schema is None else None
    if schema is None:
        schema = _schema_from_meta(meta, columns)
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 16)
              .parquet(blocks_path))
    exact = None
    if filters:
        from ..engine.decode import (_apply_block_filters,
                                     _arrow_types_of,
                                     _exact_filter_expr,
                                     _normalize_filters)

        groups = _normalize_filters(filters)
        types = _arrow_types_of(meta)
        stream = _apply_block_filters(stream, groups, types)
        exact = _exact_filter_expr(groups)
    if columns is not None:
        from ..engine.blocks import payload_field, validity_field

        base = ["block_id", "snapshot_id", "part_id", "seq", "n_rows",
                "columns"]
        have = set(stream.columns)
        keep = base + [f for c in columns
                       for f in (payload_field(c), validity_field(c))
                       if f in have]
        stream = stream.select(*keep)
    out = stream.mapInArrow(make_decode_fn(verify, columns), schema)
    if exact is not None:
        out = out.where(exact)
        if out_cols is not None:
            out = out.select(*out_cols)
    return out
