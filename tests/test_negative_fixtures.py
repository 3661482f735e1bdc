"""Negative fixtures (FIXTURES.md edge case 10): malformed inputs must
surface as decode errors / assertion violations, never as silent data.
Mirrors the reference's abort-on-violation semantics (SURVEY.md §5 #3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erigon_extract_spark.functions.decode import (
    _decode_account_one,
    _decode_storage_one,
    _decode_body_one,
)
from erigon_extract_spark.operators.asserts import (
    AssertionViolation,
    assert_empty,
    assert_unique_keys,
)
from erigon_extract_spark.plans.extract import (
    code_hash_inconsistencies,
    decode_storage_changesets,
    plain_state_malformed,
)
from erigon_extract_spark.schemas import EMPTY_CODE_HASH, PLAIN_STATE


def test_malformed_account_blobs_error():
    # unknown fieldset bits (erigon_extract.c:257-258)
    assert _decode_account_one(b"\x10")[4] is not None
    # truncated payload
    assert _decode_account_one(b"\x01\x08\x01")[4] is not None
    # code_hash with wrong length
    assert _decode_account_one(b"\x08\x10" + b"\x00" * 16)[4] is not None
    # trailing garbage
    assert _decode_account_one(b"\x01\x01\x05\xff")[4] is not None
    # nonce longer than 8 bytes
    assert _decode_account_one(b"\x01\x09" + b"\x01" * 9)[4] is not None


def test_malformed_storage_blobs_error():
    # below 32 / above 64 bytes (erigon_extract.c:1568-1576)
    assert _decode_storage_one(b"\x00" * 31)[2] is not None
    assert _decode_storage_one(b"\x00" * 65)[2] is not None
    assert _decode_storage_one(None)[2] is not None


def test_storage_decode_matches_python_oracle(spark):
    """The built-in storage decode equals ``_decode_storage_one`` on a null
    blob and at every length edge: valid (32, 33, 34, 64) or not (0, 31,
    65), including the empty value of a 32-byte blob."""
    blobs = [None] + [
        bytes((7 * i + 1) % 256 for i in range(n))
        for n in (0, 31, 32, 33, 34, 64, 65)
    ]
    scs = spark.createDataFrame(
        [(block, b"\x01" * 20, 1, blob) for block, blob in enumerate(blobs)],
        # nullable blob: the null case must reach the decode
        "block long, address binary, incarnation long, storage_blob binary",
    )
    rows = decode_storage_changesets(scs).orderBy("block").collect()

    def _bytes(b):
        return None if b is None else bytes(b)

    got = [(_bytes(r.slot), _bytes(r.value), r.decode_error) for r in rows]
    assert got == [_decode_storage_one(b) for b in blobs]


def test_malformed_rlp_errors():
    assert _decode_body_one(b"")[3] is not None
    assert _decode_body_one(b"\x01\x02")[3] is not None  # not a list
    assert _decode_body_one(b"\xc5\x01")[3] is not None  # payload overrun


def test_plain_state_key_length_violation(spark):
    bad = spark.createDataFrame(
        [(b"\x01" * 21, b"", 5)], PLAIN_STATE
    )  # 21-byte key: neither 20 nor 28
    with pytest.raises(AssertionViolation):
        assert_empty(plain_state_malformed(bad), "plain_state keys")


def test_code_hash_consistency_violation(spark):
    # non-zero code hash with zero incarnation (erigon_extract.c:840-846)
    acct = spark.createDataFrame(
        [(b"\x01" * 20, 0, b"\xaa" * 32)],
        "address binary, incarnation long, code_hash binary",
    )
    with pytest.raises(AssertionViolation):
        assert_empty(code_hash_inconsistencies(acct), "code-hash consistency")


def test_duplicate_full_key_violation(spark):
    # duplicate sort key aborts the reference merge (erigon_extract.c:2153-2155)
    dup = spark.createDataFrame(
        [(b"\x01" * 20, 0, 1, None, 5), (b"\x01" * 20, 0, 1, None, 5)],
        "address binary, kind int, incarnation long, slot binary, block_from long",
    )
    with pytest.raises(AssertionViolation):
        assert_unique_keys(dup, ["address", "kind", "incarnation", "slot", "block_from"])


def test_empty_code_hash_normalized_on_recovery(spark):
    """empty_code_hash must never appear in decoded output — normalized to
    zeros (erigon_extract.c:832-838)."""
    from erigon_extract_spark.plans.extract import recover_code_hashes

    acct = spark.createDataFrame(
        [(b"\x01" * 20, 0, EMPTY_CODE_HASH)],
        "address binary, incarnation long, code_hash binary",
    )
    pch = spark.createDataFrame([], "address binary, incarnation long, code_hash binary")
    out = recover_code_hashes(acct, pch).collect()[0]
    assert bytes(out["code_hash"]) == b"\x00" * 32


def test_validation_report_counts_violations(spark):
    """Non-aborting complement of the assert operators: the report counts
    every violation class in one pass, NULL counts as a violation, and a
    clean frame passes all checks."""
    from pyspark.sql import functions as F

    from erigon_extract_spark.operators.asserts import validation_report

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None), (None, 2.0)],
        "k long, v double",
    )
    rep = {r.check_name: r for r in validation_report(
        df,
        {"k_not_null": F.col("k").isNotNull(), "v_positive": F.col("v") > 0},
    ).collect()}
    assert rep["k_not_null"].n_rows == 4
    assert rep["k_not_null"].n_violations == 1
    assert not rep["k_not_null"].passed
    # NULL v counts as a violation of v_positive (unknown is not a pass)
    assert rep["v_positive"].n_violations == 2
    clean = df.filter(F.col("k").isNotNull() & (F.col("v") > 0))
    rep2 = validation_report(
        clean, {"k_not_null": F.col("k").isNotNull()}
    ).collect()
    assert rep2[0].passed and rep2[0].n_violations == 0

    import pytest

    with pytest.raises(ValueError):
        validation_report(df, {})


def test_validation_report_empty_frame_passes(spark):
    from pyspark.sql import functions as F

    from erigon_extract_spark.operators.asserts import validation_report

    empty = spark.createDataFrame([], "k long, v double")
    (r,) = validation_report(
        empty, {"k_not_null": F.col("k").isNotNull()}
    ).collect()
    # vacuously clean: 0 violations, passed True — never a NULL verdict
    assert r.n_rows == 0 and r.n_violations == 0 and r.passed is True

    import pytest

    with pytest.raises(ValueError):
        validation_report(empty, {"bad.name": F.col("k").isNotNull()})
