"""Binary blob decoders as Arrow-vectorized pandas UDFs.

These are the P1/F7 kernels from SURVEY.md §2.3/§2.9 — the only places
the engine must drop out of JVM built-ins, because the inputs are ad-hoc
byte encodings (Erigon's fieldset account blob and a partial RLP list
header). Each UDF maps a binary column to a struct column; everything
downstream is plain DataFrame code. The packed storage blob (P2) needs no
UDF: ``plans.extract.decode_storage_changesets`` decodes it with
``substring`` + ``lpad``, and ``_decode_storage_one`` here is its Python
oracle.

Reference formats:
- account blob: fieldset byte (bit 1=nonce, 2=balance, 4=incarnation,
  8=code_hash), then per set bit a length byte + big-endian payload
  (decode loop erigon_extract.c:199-260; unknown bits are an error,
  257-258). Absent fields default to 0.
- storage blob: slot (32 bytes) ‖ value stripped of leading zeros
  (0..32 bytes); decoded value is left-zero-padded back to 32
  (erigon_extract.c:320-349).
- body RLP: list header, then two RLP ints (tx_index, tx_amount),
  remainder = uncles blob (erigon_extract.c:1881-1923 — which has "no
  bounds checks"; this decoder bounds-checks, a deliberate improvement).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ACCOUNT_STRUCT = T.StructType(
    [
        T.StructField("nonce", T.LongType(), True),
        T.StructField("balance", T.BinaryType(), True),
        T.StructField("incarnation", T.LongType(), True),
        T.StructField("code_hash", T.BinaryType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

_ZERO32 = b"\x00" * 32


def _decode_account_one(blob: bytes | None):
    if blob is None:
        return (None, None, None, None, "null blob")
    if len(blob) == 0:
        # empty blob = all defaults (legal: zero account)
        return (0, _ZERO32, 0, _ZERO32, None)
    fieldset = blob[0]
    pos = 1
    out = {"nonce": 0, "balance": _ZERO32, "incarnation": 0, "code_hash": _ZERO32}
    try:
        for bit, name, maxlen in (
            (1, "nonce", 8),
            (2, "balance", 32),
            (4, "incarnation", 8),
            (8, "code_hash", 32),
        ):
            if fieldset & bit:
                flen = blob[pos]
                pos += 1
                if flen > maxlen:
                    return (None, None, None, None, f"{name} len {flen} > {maxlen}")
                if name == "code_hash" and flen != 32:
                    return (None, None, None, None, f"code_hash len {flen} != 32")
                payload = blob[pos : pos + flen]
                if len(payload) != flen:
                    return (None, None, None, None, f"truncated {name}")
                pos += flen
                if name in ("nonce", "incarnation"):
                    out[name] = int.from_bytes(payload, "big")
                elif name == "balance":
                    out[name] = payload.rjust(32, b"\x00")
                else:
                    out[name] = payload
        if fieldset & ~0x0F:
            return (None, None, None, None, f"unknown fieldset bits 0x{fieldset:02x}")
        if pos != len(blob):
            return (None, None, None, None, f"trailing bytes ({len(blob) - pos})")
    except IndexError:
        return (None, None, None, None, "truncated blob")
    return (out["nonce"], out["balance"], out["incarnation"], out["code_hash"], None)


@F.pandas_udf(_ACCOUNT_STRUCT)
def decode_account_blob(blobs: pd.Series) -> pd.DataFrame:
    rows = [_decode_account_one(b) for b in blobs]
    return pd.DataFrame(
        rows, columns=["nonce", "balance", "incarnation", "code_hash", "decode_error"]
    )


def _decode_storage_one(blob: bytes | None):
    """The storage-blob decode in Python: the oracle for the built-in
    decode in ``plans.extract.decode_storage_changesets``."""
    if blob is None:
        return (None, None, "null blob")
    n = len(blob)
    if n < 32 or n > 64:
        return (None, None, f"blob len {n} outside 32..64")
    return (blob[:32], blob[32:].rjust(32, b"\x00"), None)


_BODY_STRUCT = T.StructType(
    [
        T.StructField("tx_index", T.LongType(), True),
        T.StructField("tx_amount", T.LongType(), True),
        T.StructField("uncles", T.BinaryType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def _rlp_read_int(buf: bytes, pos: int) -> tuple[int, int]:
    """Read one RLP-encoded non-negative integer at pos; return (value, new_pos)."""
    if pos >= len(buf):
        raise ValueError("truncated RLP int")
    b0 = buf[pos]
    if b0 < 0x80:  # single byte value
        return b0, pos + 1
    if b0 <= 0xB7:  # short string of length b0-0x80
        ln = b0 - 0x80
        end = pos + 1 + ln
        if end > len(buf) or ln > 8:
            raise ValueError("bad RLP int length")
        return int.from_bytes(buf[pos + 1 : end], "big"), end
    raise ValueError("unexpected RLP long form for int")


def _decode_body_one(blob: bytes | None):
    if blob is None:
        return (None, None, None, "null blob")
    try:
        if len(blob) == 0:
            raise ValueError("empty RLP")
        b0 = blob[0]
        if b0 < 0xC0:
            raise ValueError("not an RLP list")
        if b0 <= 0xF7:  # short list
            pos = 1
            payload_len = b0 - 0xC0
        else:  # long list: length-of-length follows
            lol = b0 - 0xF7
            if 1 + lol > len(blob):
                raise ValueError("truncated list header")
            payload_len = int.from_bytes(blob[1 : 1 + lol], "big")
            pos = 1 + lol
        if pos + payload_len > len(blob):
            raise ValueError("list payload overruns buffer")
        tx_index, pos = _rlp_read_int(blob, pos)
        tx_amount, pos = _rlp_read_int(blob, pos)
        uncles = blob[pos:]
        return (tx_index, tx_amount, uncles, None)
    except ValueError as e:
        return (None, None, None, str(e))


@F.pandas_udf(_BODY_STRUCT)
def decode_body_rlp(blobs: pd.Series) -> pd.DataFrame:
    rows = [_decode_body_one(b) for b in blobs]
    return pd.DataFrame(rows, columns=["tx_index", "tx_amount", "uncles", "decode_error"])
