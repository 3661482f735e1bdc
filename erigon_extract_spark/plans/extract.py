"""Stage A/D equivalents: decode raw changeset / plain-state tables into
typed DataFrames (reference extract_blockrange erigon_extract.c:1526-1625
and extract_plainstate 1691-1747, re-expressed declaratively).

The reference streams MDBX cursors row-at-a-time through decode+encode in
64 threads over 100k-block ranges (erigon_extract.c:2555-2567). Here each
stage is one DataFrame expression: the block-range predicate pushes down to
the Parquet scan, decoding is an Arrow-batched UDF, and the code-hash
recovery is a broadcast left join instead of 10^9 point lookups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from erigon_extract_spark.functions.decode import decode_account_blob
from erigon_extract_spark.schemas import EMPTY_CODE_HASH, ZERO_HASH


def decode_account_changesets(
    acs: DataFrame,
    block_start: int | None = None,
    block_end: int | None = None,
) -> DataFrame:
    """AccountChangeSet(block, address, account_blob) → decoded columns.

    Range predicates (reference seek/stop, erigon_extract.c:1537,
    1598-1600) are plain filters — Catalyst pushes them into the scan.
    Malformed blobs surface in ``decode_error``, not as an exception; the
    reference hard-errors (erigon_extract.c:1561-1567), and so does a
    strict ``plans.pipeline.build_full_history``, which counts the
    non-null errors on the store write.
    """
    if block_start is not None:
        acs = acs.filter(F.col("block") >= block_start)
    if block_end is not None:
        acs = acs.filter(F.col("block") <= block_end)
    dec = acs.withColumn("__d", decode_account_blob(F.col("account_blob")))
    out = dec.select(
        "block",
        "address",
        F.col("__d.nonce").alias("nonce"),
        F.col("__d.balance").alias("balance"),
        F.col("__d.incarnation").alias("incarnation"),
        F.col("__d.code_hash").alias("code_hash"),
        F.col("__d.decode_error").alias("decode_error"),
    )
    return out


def decode_storage_changesets(
    scs: DataFrame,
    block_start: int | None = None,
    block_end: int | None = None,
) -> DataFrame:
    """StorageChangeSet(block, address, incarnation, storage_blob) →
    (block, address, incarnation, slot, value, decode_error). Reference P2,
    erigon_extract.c:320-349, 1568-1576.

    The blob is slot (32 bytes) ‖ value stripped of leading zeros, so the
    decode is JVM built-ins (``substring`` + ``lpad``), no Python worker;
    ``functions.decode._decode_storage_one`` is its Python oracle. A null
    blob or one outside 32..64 bytes gives null slot/value and a
    ``decode_error``."""
    if block_start is not None:
        scs = scs.filter(F.col("block") >= block_start)
    if block_end is not None:
        scs = scs.filter(F.col("block") <= block_end)
    blob = F.col("storage_blob")
    n = F.length(blob)
    ok = n.between(32, 64)
    return scs.select(
        "block",
        "address",
        "incarnation",
        F.when(ok, F.substring(blob, 1, 32)).alias("slot"),
        F.when(ok, F.lpad(F.substring(blob, 33, 32), 32, F.lit(b"\x00")))
        .alias("value"),
        F.when(blob.isNull(), F.lit("null blob"))
        .when(~ok, F.concat(F.lit("blob len "), n.cast("string"),
                            F.lit(" outside 32..64")))
        .alias("decode_error"),
    )


def split_plain_state(plain_state: DataFrame) -> tuple[DataFrame, DataFrame]:
    """PlainState(key, value, block) → (account rows, storage rows).

    The reference discriminates row type by KEY LENGTH: 20 bytes = account,
    28 bytes = address‖incarnation = storage (erigon_extract.c:1703-1726).
    Anything else is malformed (caller asserts on the remainder).
    """
    keylen = F.length("key")
    accounts = plain_state.filter(keylen == 20).select(
        F.col("key").alias("address"),
        F.col("value").alias("account_blob"),
        "block",
    )
    # storage key = address(20) ‖ incarnation(8, big-endian)
    storage = plain_state.filter(keylen == 28).select(
        F.substring("key", 1, 20).alias("address"),
        F.conv(F.hex(F.substring("key", 21, 8)), 16, 10).cast("long").alias("incarnation"),
        F.col("value").alias("storage_blob"),
        "block",
    )
    return accounts, storage


def plain_state_malformed(plain_state: DataFrame) -> DataFrame:
    """Rows violating the key-length discriminator (reference hard-errors,
    erigon_extract.c:1703-1719). Use with assert_empty."""
    return plain_state.filter(~F.length("key").isin(20, 28))


def recover_code_hashes(accounts: DataFrame, plain_code_hash: DataFrame) -> DataFrame:
    """J1 lookup join: recover code hashes Erigon elided from history rows.

    Reference semantics (erigon_extract.c:262-300): when the decoded
    code_hash is zero/empty AND incarnation != 0, look up
    PlainCodeHash(address, incarnation); NOTFOUND keeps the existing hash;
    a found hash must be 32 bytes and neither zero nor empty_code_hash.
    Afterwards the consistency rule: incarnation==0 → code_hash all zeros;
    incarnation!=0 → code_hash != empty_code_hash.

    PlainCodeHash is tiny relative to history (one row per deployed
    contract version vs billions of history rows) → broadcast hash join;
    no shuffle of the big side.
    """
    needs = (
        (F.col("code_hash") == F.lit(ZERO_HASH))
        | (F.col("code_hash") == F.lit(EMPTY_CODE_HASH))
    ) & (F.col("incarnation") != 0)
    pch = plain_code_hash.select(
        "address",
        "incarnation",
        F.col("code_hash").alias("__looked_up"),
    )
    joined = accounts.join(
        F.broadcast(pch), on=["address", "incarnation"], how="left"
    )
    out = joined.withColumn(
        "code_hash",
        F.when(needs & F.col("__looked_up").isNotNull(), F.col("__looked_up")).otherwise(
            F.col("code_hash")
        ),
    ).drop("__looked_up")
    # Normalize: empty_code_hash is canonically all-zeros in this format
    # (reference write-side normalization erigon_extract.c:832-838).
    out = out.withColumn(
        "code_hash",
        F.when(F.col("code_hash") == F.lit(EMPTY_CODE_HASH), F.lit(ZERO_HASH)).otherwise(
            F.col("code_hash")
        ),
    )
    return out


def code_hash_inconsistent() -> Column:
    """True on a row violating the incarnation/code-hash consistency rule
    (erigon_extract.c:294-300, 840-846): incarnation == 0 requires an
    all-zero code_hash."""
    return (F.col("incarnation") == 0) & (F.col("code_hash") != F.lit(ZERO_HASH))


def code_hash_inconsistencies(accounts: DataFrame) -> DataFrame:
    """The rows violating ``code_hash_inconsistent``. Use with assert_empty."""
    return accounts.filter(code_hash_inconsistent())
