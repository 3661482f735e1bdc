"""Table sources/sinks with schema enforcement and manifests.

The reference's "schema system" is hand-written key/value length checks at
cursor time plus a 256-byte binary header rewritten at job end
(erigon_extract.c:2266-2288). Spark-natively: explicit read schemas, and a
JSON manifest sidecar whose counts are observed on the store's own write
job (no re-read, no extra job) — which also fixes the
reference's header defect where the account count is overwritten by the
storage count (words[6] assigned twice, erigon_extract.c:2281-2282; noted
in SURVEY.md K3 as "do not replicate; test for it").

Scale notes for the state-history sink: sort + write through
``partitionBy(bucket)``/``maxRecordsPerFile`` keeps files bounded; sorted
Parquet + column stats give the O(log N) point-lookup property of the
reference's paged format (reference README.md:37-41) without custom I/O.
"""

from __future__ import annotations

import json
import posixpath
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from erigon_extract_spark import schemas as S
from erigon_extract_spark.plans.transpose import KIND_ACCOUNT, KIND_STORAGE

_SCHEMAS: dict[str, T.StructType] = {
    "sync_stage": S.SYNC_STAGE,
    "account_changesets": S.ACCOUNT_CHANGESETS,
    "storage_changesets": S.STORAGE_CHANGESETS,
    "plain_state": S.PLAIN_STATE,
    "plain_code_hash": S.PLAIN_CODE_HASH,
    "block_bodies": S.BLOCK_BODIES,
    "block_transactions": S.BLOCK_TRANSACTIONS,
    "state_history": S.STATE_HISTORY,
}


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (microsecond, UTC session)
    regardless of how the parquet writer encoded it.

    Three encodings appear in the wild (the driver's testdata has shipped
    two of them across regenerations):

    - ``TIMESTAMP(NANOS)`` read with ``spark.sql.legacy.parquet.nanosAsLong``
      → a ``bigint`` of nanoseconds: integer-divide to micros (a double
      round-trip loses precision at ns scale) and rebuild the timestamp.
    - ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` → ``timestamp_ntz``:
      cast to ``timestamp``; with ``spark.sql.session.timeZone=UTC`` the
      wall-clock values are unchanged, so DuckDB oracle parity holds.
    - plain ``timestamp``: pass through.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(ts_col)
    if dtype in ("bigint", "long"):
        # Integer column is assumed to be epoch NANOSECONDS (the only integer
        # encoding the generator has shipped; `nanosAsLong` reads produce it).
        # Guard the assumption at run time: epoch-micros or -millis input
        # would land 1000-5000x outside the plausible ns range and otherwise
        # mis-scale silently. assert_true returns NULL when the predicate
        # holds, so the `when` collapses to the converted value.
        ts_micros = F.expr(f"`{ts_col}` div 1000")  # backticked: any identifier
        plausible = F.col(ts_col).isNull() | ts_micros.between(
            F.lit(631_152_000_000_000),  # 1990-01-01 in epoch-µs
            F.lit(4_102_444_800_000_000),  # 2100-01-01 in epoch-µs
        )
        guarded = F.when(
            F.assert_true(
                plausible, F.lit(f"{ts_col}: integer value is not epoch-nanos")
            ).isNull(),
            F.timestamp_micros(ts_micros),
        )
        return df.withColumn(ts_col, guarded)
    if dtype == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Read a domain table with its declared schema (no inference drift)."""
    schema = _SCHEMAS.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_partitions: int | None = None,
    max_records_per_file: int = 5_000_000,
    bloom_cols: list[str] | None = None,
    bloom_ndv: int = 1_000_000,
    counts: Observation | None = None,
) -> None:
    """Range-partition by the sort prefix, sort within partitions, write.

    Produces globally range-ordered files whose Parquet row-group min/max
    stats support pruned point reads on the sort key.

    ``bloom_cols`` additionally writes a Parquet bloom filter per row
    group for each named column — the physical-layout answer for point
    lookups on a column the file is NOT sorted by (min/max stats are
    vacuous there; the reference gets the same O(log N)-seek effect from
    its page index, README.md:37-41). parquet-mr consults the bloom
    during row-group filtering on equality predicates, so a miss skips
    the group without reading data pages. ``bloom_ndv`` sizes the filter
    (expected distinct values per row group; over-sizing costs footer
    bytes, under-sizing raises the false-positive rate).

    ``counts``, when given, counts the rows written (per ``kind`` when the
    frame has that column) in the write job itself; read them with
    ``observed_counts``. (They travel in the caller's Observation rather
    than a return value, which a wrapper around this function could
    drop.) The counter sits after the sort, past the last exchange, so
    each row passes it exactly once: below a range shuffle the sampling
    job that picks the range bounds would run it too."""
    if num_partitions:
        df = df.repartitionByRange(num_partitions, *sort_cols)
    else:
        df = df.repartitionByRange(*sort_cols)
    df = df.sortWithinPartitions(*sort_cols)
    if counts is not None:
        counters = [F.count(F.lit(1)).alias("total")]
        if "kind" in df.columns:
            counters += [
                F.count_if(F.col("kind") == k).alias(f"kind_{k}")
                for k in (KIND_ACCOUNT, KIND_STORAGE)
            ]
        df = df.observe(counts, *counters)
    writer = df.write.option("maxRecordsPerFile", max_records_per_file)
    for c in bloom_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(int(bloom_ndv))
        )
    writer.mode("overwrite").parquet(path)


def bloom_row_group_stats(
    spark: SparkSession, path: str, column: str, value
) -> dict:
    """Footer-level bloom-filter pruning evidence for a point lookup.

    Reads every data file's footer through parquet-mr (the same classes
    Spark's scan uses for row-group filtering) and probes each row
    group's bloom filter for ``column`` with ``value``. Returns
    ``{"row_groups", "with_bloom", "maybe_contains"}`` —
    ``row_groups - maybe_contains`` is exactly the number of row groups
    an equality scan skips without touching data pages. str/bytes values
    hash as parquet Binary; ints ride py4j's long overload."""
    from erigon_extract_spark.sources.compact import data_files

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    if isinstance(value, str):
        jval = jvm.org.apache.parquet.io.api.Binary.fromString(value)
    elif isinstance(value, (bytes, bytearray)):
        jval = jvm.org.apache.parquet.io.api.Binary.fromConstantByteArray(
            bytes(value)
        )
    else:
        jval = value
    n_groups = n_bloom = n_maybe = 0
    for f in data_files(spark, path):
        jpath = jvm.org.apache.hadoop.fs.Path(f)
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jpath, hconf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            for block in reader.getFooter().getBlocks():
                col = next(
                    c
                    for c in block.getColumns()
                    if c.getPath().toDotString() == column
                )
                n_groups += 1
                bf = reader.readBloomFilter(col)
                if bf is None:
                    n_maybe += 1  # no filter -> the group cannot be skipped
                    continue
                n_bloom += 1
                if bf.findHash(bf.hash(jval)):
                    n_maybe += 1
        finally:
            reader.close()
    return {
        "row_groups": n_groups,
        "with_bloom": n_bloom,
        "maybe_contains": n_maybe,
    }


def write_block_partitioned(
    df: DataFrame,
    path: str,
    block_col: str = "block",
    blocks_per_bucket: int = 100_000,
    sort_cols: list[str] | None = None,
) -> None:
    """Changeset layout for the 100 TB path: hive-partition by a derived
    block bucket (the Spark analogue of the reference's 100k-block job
    ranges, erigon_extract.c:2534-2543). A block-range predicate then
    prunes whole directories at PLANNING time (PartitionFilters), before
    any footer is read — the scan cost of `extract_blockrange(s, e)`
    becomes proportional to the range, not the table."""
    from pyspark.sql import functions as F

    bucketed = df.withColumn(
        "block_bucket", (F.col(block_col) / blocks_per_bucket).cast("long")
    )
    writer = bucketed.write.partitionBy("block_bucket").mode("overwrite")
    if sort_cols:
        bucketed = bucketed.repartition("block_bucket")
        writer = (
            bucketed.sortWithinPartitions("block_bucket", *sort_cols)
            .write.partitionBy("block_bucket")
            .mode("overwrite")
        )
    writer.parquet(path)


def read_block_range(
    spark: SparkSession,
    path: str,
    block_start: int,
    block_end: int,
    blocks_per_bucket: int = 100_000,
) -> DataFrame:
    """S2's scale path over the block-partitioned layout. Catalyst cannot
    derive ``block_bucket`` bounds from a ``block`` predicate on its own
    (the bucket is a stored directory key, not an expression it can
    invert), so this helper adds BOTH: the bucket range becomes a
    PartitionFilter that prunes directories at planning time; the block
    range remains as the row-level pushed filter inside surviving buckets.
    ``block_end`` is inclusive (reference stop condition,
    erigon_extract.c:1598-1600)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    return df.filter(
        F.col("block_bucket").between(
            block_start // blocks_per_bucket, block_end // blocks_per_bucket
        )
        & F.col("block").between(block_start, block_end)
    )


def observed_metrics(observation: Observation) -> dict:
    """The metrics ``observation`` collected, waiting (as
    ``Observation.get`` does) for the first action on its frame to finish.
    Empty when no row reached the observer: Spark then reports a row with
    no fields, which ``Observation.get`` cannot convert."""
    if observation._jo.getRow().length() == 0:
        return {}
    return observation.get


def observed_counts(counts: Observation) -> dict[str, int]:
    """The manifest counts of a ``write_sorted_parquet(..., counts=...)``
    call: ``kind_<k>`` for each kind present, then ``total``."""
    metrics = observed_metrics(counts)
    out = {k: v for k, v in metrics.items() if k != "total" and v}
    out["total"] = metrics.get("total", 0)
    return out


def _hadoop_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of ``path``, for driver-side file work."""
    sc = spark.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hadoop_path.getFileSystem(sc._jsc.hadoopConfiguration()), hadoop_path


def write_manifest(spark: SparkSession, path: str, counts: dict[str, int]) -> dict:
    """Write ``{"counts": counts}`` as ``_manifest.json`` in the store
    directory ``path`` and return it. The counts come from the caller
    (``observed_counts`` of the store's write): this runs no job."""
    manifest = {"counts": counts}
    fs, hadoop_path = _hadoop_path(spark, f"{path}/_manifest.json")
    out = fs.create(hadoop_path, True)
    try:
        out.write(bytearray(json.dumps(manifest, indent=2).encode()))
    finally:
        out.close()
    return manifest


def sibling_path(path: str, tag: str) -> str:
    """A fresh hidden name in ``path``'s directory (Spark's listing skips
    names starting with '.'): ``.<name>.<tag>-<random>``."""
    path = path.rstrip("/")
    name = f".{posixpath.basename(path)}.{tag}-{uuid.uuid4().hex[:12]}"
    return posixpath.join(posixpath.dirname(path), name)


def remove_dir(spark: SparkSession, path: str) -> None:
    """Delete ``path`` and everything under it, if it exists."""
    fs, hadoop_path = _hadoop_path(spark, path)
    fs.delete(hadoop_path, True)


def replace_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Publish directory ``src`` at ``dst`` by rename. A directory already
    at ``dst`` is renamed aside first and deleted only once ``src`` is in
    place; if moving ``src`` fails it is renamed back. ``src`` must be a
    sibling of ``dst`` (``sibling_path``), so that both renames stay on
    one file system."""
    fs, src_path = _hadoop_path(spark, src)
    _, dst_path = _hadoop_path(spark, dst)

    def rename(a, b):
        if not fs.rename(a, b):
            raise OSError(f"could not rename {a.toString()} to {b.toString()}")

    old = None
    if fs.exists(dst_path):
        old = _hadoop_path(spark, sibling_path(dst, "replaced"))[1]
        rename(dst_path, old)
    try:
        rename(src_path, dst_path)
    except BaseException:
        if old is not None:
            rename(old, dst_path)
        raise
    if old is not None:
        fs.delete(old, True)


def read_manifest(spark: SparkSession, path: str) -> dict:
    fs, hadoop_path = _hadoop_path(spark, f"{path}/_manifest.json")
    stream = fs.open(hadoop_path)
    try:
        data = bytes(
            spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode())
