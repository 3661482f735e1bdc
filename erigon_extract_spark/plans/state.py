"""As-of state queries over the state_history table — the product query
surface the reference's output file exists to serve (reference
README.md:37-41: "any account or storage can be looked up at any point in
block time").

Two physical paths answer the same query with the same result schema:

- **Keyed point read on the driver.** With ``address`` given and
  ``state_history`` an unfiltered Parquet scan of local files, the driver
  reads only the row groups whose ``address`` min/max stats admit the key
  (pyarrow, footers cached per file), keeps the greatest
  ``block_from <= block`` per key, and returns the rows as a DataFrame over
  a ``LocalRelation`` — collecting it launches no Spark job.
- **Spark plan.** Everything else — the batch as-of over all keys, and any
  input that is not a bare Parquet scan (in-memory, filtered or derived
  DataFrames) — runs ``operators.asof.state_at``: one shuffle on the key
  with map-side partial aggregation.
"""

from __future__ import annotations

import functools
import os
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from erigon_extract_spark.operators.asof import state_at
from erigon_extract_spark.plans.transpose import KIND_ACCOUNT, KIND_STORAGE

ACCOUNT_KEY = ["address"]
ACCOUNT_VALUES = ["nonce", "balance", "incarnation", "code_hash"]
STORAGE_KEY = ["address", "incarnation", "slot"]
STORAGE_VALUES = ["value"]


def account_state_at(
    state_history: DataFrame, block: int, address: bytes | None = None
) -> DataFrame:
    """Account state as of ``block``: latest version with block_from <= block
    per address, as ``(address, block_from, nonce, balance, incarnation,
    code_hash)``.

    With ``address`` given on a Parquet scan of local files this is a
    driver-side, row-group-pruned read and collecting the result runs no
    Spark job; otherwise (no address, or any other input) it is the Spark
    ``state_at`` plan — the address filter then prunes before its shuffle."""
    if address is not None:
        files = _local_parquet_files(state_history)
        if files is not None:
            return _driver_state_at(
                state_history, files, KIND_ACCOUNT, block, address, None,
                ACCOUNT_KEY, ACCOUNT_VALUES,
            )
    df = state_history.filter(F.col("kind") == KIND_ACCOUNT)
    if address is not None:
        df = df.filter(F.col("address") == F.lit(address))
    return state_at(
        df,
        key_cols=ACCOUNT_KEY,
        version_col="block_from",
        as_of=block,
        value_cols=ACCOUNT_VALUES,
    )


def storage_state_at(
    state_history: DataFrame,
    block: int,
    address: bytes | None = None,
    slot: bytes | None = None,
) -> DataFrame:
    """Storage state as of ``block`` per (address, incarnation, slot), as
    ``(address, incarnation, slot, block_from, value)``. Takes the driver
    path under the same conditions as ``account_state_at``."""
    if address is not None:
        files = _local_parquet_files(state_history)
        if files is not None:
            return _driver_state_at(
                state_history, files, KIND_STORAGE, block, address, slot,
                STORAGE_KEY, STORAGE_VALUES,
            )
    df = state_history.filter(F.col("kind") == KIND_STORAGE)
    if address is not None:
        df = df.filter(F.col("address") == F.lit(address))
    if slot is not None:
        df = df.filter(F.col("slot") == F.lit(slot))
    return state_at(
        df,
        key_cols=STORAGE_KEY,
        version_col="block_from",
        as_of=block,
        value_cols=STORAGE_VALUES,
    )


def _local_parquet_files(df: DataFrame) -> list[str] | None:
    """The local file paths behind ``df`` when its analyzed plan is a bare,
    unpartitioned Parquet file-source relation; None for anything else
    (filters, projections, in-memory data, partition columns, or files on
    a non-local filesystem)."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().toString() != "Parquet"
        or not rel.partitionSchema().isEmpty()
    ):
        return None
    paths = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            return None
        paths.append(unquote(u.path))
    return paths


@functools.lru_cache(maxsize=256)
def _footer(path: str, size: int, mtime_ns: int):
    """(metadata, per-row-group (min, max) of ``address``) of one Parquet
    file; cached under its path, size and mtime, so a rewritten file is
    read afresh. A bound is None when the row group has no usable stats."""
    md = pq.read_metadata(path)
    col = md.schema.names.index("address")
    bounds = []
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(col).statistics
        bounds.append((st.min, st.max) if st is not None and st.has_min_max else (None, None))
    return md, bounds


def _driver_state_at(
    state_history: DataFrame,
    files: list[str],
    kind: int,
    block: int,
    address: bytes,
    slot: bytes | None,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """The keyed as-of lookup answered on the driver (see module doc)."""
    out_cols = key_cols + ["block_from"] + value_cols
    schema = StructType([state_history.schema[c] for c in out_cols])
    read_cols = list(dict.fromkeys(["kind", *out_cols]))
    parts = []
    for path in files:
        st = os.stat(path)
        md, bounds = _footer(path, st.st_size, st.st_mtime_ns)
        groups = [
            i for i, (lo, hi) in enumerate(bounds)
            if lo is None or lo <= address <= hi
        ]
        if groups:
            parts.append(
                pq.ParquetFile(path, metadata=md).read_row_groups(groups, columns=read_cols)
            )
    spark = state_history.sparkSession
    if not parts:
        return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema=schema)
    t = pa.concat_tables(parts, promote_options="default")
    mask = pc.and_(
        pc.and_(pc.equal(t["kind"], kind), pc.equal(t["address"], address)),
        pc.less_equal(t["block_from"], block),
    )
    if slot is not None:
        mask = pc.and_(mask, pc.equal(t["slot"], slot))
    t = t.filter(mask).sort_by(
        [(c, "ascending") for c in key_cols] + [("block_from", "descending")]
    )
    # the first row of each key run is its greatest block_from <= block —
    # the reduction operators.asof.state_at does with max/max_by
    keep, prev = [], None
    for i, k in enumerate(zip(*(t[c].to_pylist() for c in key_cols))):
        if k != prev:
            keep.append(i)
            prev = k
    return spark.createDataFrame(
        t.take(pa.array(keep, pa.int64())).select(out_cols), schema=schema
    )
