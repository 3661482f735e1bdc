"""Byte-exact reference-dialect codec (codec/refstream.py).

Golden vectors are hand-derived from the C semantics (erigon_extract.c:
596-716, 824-1027, 1108-1269); round-trips run the fixture state history
through both strategies and the merged-file layout (header + 4 KiB restart
pages) and require exact item equality, plus page-INDEPENDENT decode — the
property the parallel Spark reader relies on.
"""

from __future__ import annotations

import os

import pytest

from erigon_extract_spark import fixtures as fxmod
from erigon_extract_spark.codec import refstream as rs

A1 = bytes([0x11]) * 20
A2 = bytes([0x22]) * 20


def b32(v: int) -> bytes:
    return v.to_bytes(32, "big")


def acct(block, addr, nonce, bal, inc, ch=bytes(32)):
    return rs.AccountItem(block, addr, nonce, b32(bal), inc, ch)


def stor(block, addr, inc, slot, val):
    return rs.StorageItem(block, addr, inc, b32(slot), b32(val))


# ---------------------------------------------------------------------------
# golden vectors
# ---------------------------------------------------------------------------


def test_golden_account_strategy1():
    # address opcode + inline block delta 3 + account(flags=nonce1|balance)
    # + balance delta (5-0-1=4) as single number byte
    b = rs.encode_items([acct(3, A1, 1, 5, 0)], strategy=1)
    assert b == bytes([9]) + A1 + bytes([251 + 3, 10 + 1 + 4, 4]), b.hex()


def test_golden_account_strategy0_absolute():
    # strategy 0: block first (opcode 1, one byte), absolute balance,
    # absolute nonce/incarnation in flag bits
    b = rs.encode_items([acct(3, A1, 2, 5, 0)], strategy=0)
    assert b == bytes([1, 3, 9]) + A1 + bytes([10 + 1 + (2 << 2), 5]), b.hex()


def test_golden_storage_inline_slot_and_number_value():
    # slot 2 -> inline in high bits (2<<4); value 7 -> not inline (>5),
    # number-encoded with flags|=6
    items = [acct(3, A1, 1, 5, 0), stor(3, A1, 1, 2, 7)]
    b = rs.encode_items(items, strategy=1)
    tail = b[len(bytes([9]) + A1 + bytes([254, 15, 4])) :]
    assert tail == bytes([74 + (2 << 4) + 6, 7]), tail.hex()


def test_golden_storage_value_inline_and_invert():
    # value 5 -> inline flag bits, no payload
    b5 = rs.encode_items([stor(0, A1, 1, 2, 5)], strategy=1)
    assert b5 == bytes([9]) + A1 + bytes([74 + (2 << 4) + 5]), b5.hex()
    # value with top bit set -> inverted number, flags|=7
    v = int.from_bytes(b"\xff" + bytes(31), "big")
    b7 = rs.encode_items([rs.StorageItem(0, A1, 1, b32(2), b32(v))], strategy=1)
    inv = bytes([0x00]) + b"\xff" * 31  # ~value
    assert b7 == bytes([9]) + A1 + bytes(
        [74 + (2 << 4) + 7, 223 + 31]
    ) + inv[1:], b7.hex()


def test_golden_slot_choose_shorter_delta():
    # first slot 0x01||0^31: absolute costs 33 (prefix + 32 bytes), the
    # minus-one delta from zero is 0x00||0xff^31 costing 32 -> the delta
    # wins even for the FIRST slot (flags bit3, number-encoded hi=9);
    # second slot +1 -> delta-1 == 0 -> inline 0 with the delta flag only
    s1 = int.from_bytes(b"\x01" + bytes(31), "big")
    items = [stor(0, A1, 1, s1, 1), stor(0, A1, 1, s1 + 1, 1)]
    b = rs.encode_items(items, strategy=1)
    first = bytes([74 + (9 << 4) + (1 << 3) + 1, 223 + 31]) + b"\xff" * 31
    second = bytes([74 + (0 << 4) + (1 << 3) + 1])
    assert b == bytes([9]) + A1 + first + second, b.hex()

    # a raw-array slot (hi=10) appears when both absolute and delta cost 33:
    # top byte of slot AND of delta-1 nonzero
    s2 = int.from_bytes(b"\x7f" + b"\x01" * 31, "big")
    b2 = rs.encode_items([stor(0, A1, 1, s2, 1)], strategy=1)
    assert b2 == bytes([9]) + A1 + bytes([74 + (10 << 4) + 1]) + b32(s2), b2.hex()


def test_golden_incarnation_escape():
    # storage incarnation 3 after account incarnation 1 -> escape 250 with
    # u64 delta 2, then storage opcode
    ch = bytes([0xAB]) * 32
    items = [acct(1, A1, 0, 1, 1, ch), stor(1, A1, 3, 2, 1)]
    b = rs.encode_items(items, strategy=1)
    # balance delta is 1-0-1 == 0 -> no balance flag/payload; flags =
    # code-hash-changed (bit1) + incarnation-delta-1 (bit4)
    acct_bytes = bytes([9]) + A1 + bytes([252, 10 + 2 + (1 << 4)]) + ch
    assert b == acct_bytes + bytes([250, 2, 74 + (2 << 4) + 1]), b.hex()


def test_golden_number_codec_edges():
    buf = bytearray()
    rs._wnumber(buf, bytes(32))
    assert bytes(buf) == b"\x00"  # all zero -> single 0
    buf = bytearray()
    rs._wnumber(buf, b32(223))
    assert bytes(buf) == bytes([223])  # single byte < 224 -> itself
    buf = bytearray()
    rs._wnumber(buf, b32(224))
    assert bytes(buf) == bytes([223 + 1, 224])  # 224 needs a length prefix
    buf = bytearray()
    rs._wnumber(buf, b32(0x1234))
    assert bytes(buf) == bytes([223 + 2, 0x12, 0x34])


# ---------------------------------------------------------------------------
# round-trips over the fixture state history
# ---------------------------------------------------------------------------


def _fixture_items():
    fx = fxmod.generate(seed=42, n_addresses=8, n_blocks=120, n_body_blocks=10)
    rows = fxmod.expected_state_history(fx)
    items = []
    for addr, kind, inc, slot, block_from, nonce, bal, ch, val in rows:
        if kind == 0:
            items.append(
                rs.AccountItem(block_from, addr, nonce, bal, inc, ch)
            )
        else:
            items.append(rs.StorageItem(block_from, addr, inc, slot, val))
    return items


@pytest.mark.parametrize("strategy", [0, 1])
def test_roundtrip_fixture_history(strategy):
    items = _fixture_items()
    blob = rs.encode_items(items, strategy=strategy)
    back = rs.decode_items(blob, strategy=strategy)
    assert [i.astuple() for i in back] == [i.astuple() for i in items]


def test_full_history_file_roundtrip_and_page_independence():
    items = _fixture_items()
    data = rs.encode_full_history_file(items, block_start=0, block_end=121)
    hdr, back = rs.decode_full_history_file(data)
    assert hdr["page_shift"] == 12
    assert hdr["end_of_states"] == len(data)
    assert hdr["count_defective_words6"] == sum(1 for i in items if i.is_storage)
    assert [i.astuple() for i in back] == [i.astuple() for i in items]

    # multiple restart pages must exist for the independence claim to bite
    assert len(data) > 3 * 4096
    # every page range decodes standalone; concatenation == sequential
    tasks = rs.page_tasks(hdr["end_of_states"], pages_per_task=1)
    assert len(tasks) > 3
    pieces = []
    for s, e in tasks:
        pieces.extend(rs.decode_items(data, strategy=0, start=s, end=e))
    assert [i.astuple() for i in pieces] == [i.astuple() for i in items]


def test_page_padding_resets_reader_state():
    # artificial stream: account, then padding to a fake boundary, then an
    # entry re-encoded from scratch — decoding must not mix state across 0s
    w = rs.RefWriter(strategy=1)
    w.write_account(acct(5, A1, 7, 1000, 0))
    first = w.getvalue()
    blob = first + bytes(16) + rs.encode_items([acct(5, A1, 7, 1000, 0)], strategy=1)
    back = rs.decode_items(blob, strategy=1)
    assert len(back) == 2
    assert back[0].astuple() == back[1].astuple()


def test_spark_reader_paged(spark, tmp_path):
    items = _fixture_items()
    data = rs.encode_full_history_file(items, block_start=0, block_end=121)
    p = tmp_path / "full-history-0-121.dat"
    p.write_bytes(data)
    df = rs.read_ref_file_df(spark, str(p), strategy=0, pages_per_task=1)
    got = sorted(
        (
            r.is_storage,
            r.block,
            bytes(r.address),
            r.nonce,
            None if r.balance is None else bytes(r.balance),
            r.incarnation,
            None if r.code_hash is None else bytes(r.code_hash),
            None if r.slot is None else bytes(r.slot),
            None if r.value is None else bytes(r.value),
        )
        for r in df.collect()
    )
    assert got == sorted(i.astuple() for i in items)
    assert df.rdd.getNumPartitions() >= 1


def test_write_ref_files_distributed_sink(spark, tmp_path):
    """Each partition encodes into its own strategy-1 file; reading every
    file back must reproduce the exact input items, address-major within
    each file (the reference's per-range transpose layout)."""
    items = _fixture_items()
    rows = [i.astuple() for i in items]
    schema = (
        "is_storage boolean, block long, address binary, nonce long, "
        "balance binary, incarnation long, code_hash binary, slot binary, "
        "value binary"
    )
    df = (
        spark.createDataFrame(rows, schema)
        .repartitionByRange(3, "address", "is_storage", "incarnation", "slot")
        .sortWithinPartitions(
            "address", "is_storage", "incarnation", "slot", "block"
        )
    )
    out = str(tmp_path / "refsink")
    manifest = rs.write_ref_files(df, out, strategy=1)
    assert 1 <= len(manifest) <= 3
    assert sum(m["n_items"] for m in manifest) == len(items)
    back = []
    for m in sorted(manifest, key=lambda m: m["path"]):
        back.extend(rs.decode_items(open(m["path"], "rb").read(), strategy=1))
    assert sorted(i.astuple() for i in back) == sorted(rows)


# ---------------------------------------------------------------------------
# property-based round-trips (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_ADDRS = [bytes([i]) * 20 for i in (1, 2, 3)]


def _rand_b32(draw):
    kind = draw(st.integers(0, 3))
    if kind == 0:
        return bytes(32)
    if kind == 1:  # small value, many leading zeros (trim/inline paths)
        return draw(st.integers(0, 300)).to_bytes(32, "big")
    if kind == 2:  # top bit set (invert paths)
        return b"\xff" + draw(st.binary(min_size=31, max_size=31))
    return draw(st.binary(min_size=32, max_size=32))


@st.composite
def _items(draw):
    out = []
    for _ in range(draw(st.integers(1, 25))):
        addr = draw(st.sampled_from(_ADDRS))
        block = draw(st.integers(0, 2**40))
        if draw(st.booleans()):
            inc = draw(st.integers(0, 5))
            ch = (
                bytes(32)
                if inc == 0
                else draw(st.sampled_from([bytes(32), bytes([0xCD]) * 32]))
            )
            out.append(
                rs.AccountItem(
                    block, addr, draw(st.integers(0, 2**63 - 1)),
                    _rand_b32(draw), inc, ch,
                )
            )
        else:
            out.append(
                rs.StorageItem(
                    block, addr, draw(st.integers(1, 5)),
                    _rand_b32(draw), _rand_b32(draw),
                )
            )
    return out


@settings(max_examples=150, deadline=None)
@given(items=_items(), strategy=st.sampled_from([0, 1]))
def test_property_roundtrip_any_item_stream(items, strategy):
    """Any well-formed item stream round-trips exactly under both written
    strategies — nonce regressions (wrapping deltas), decreasing
    incarnations (wrapped u64 escapes), zero/high-bit values, and repeated
    addresses included."""
    blob = rs.encode_items(items, strategy=strategy)
    back = rs.decode_items(blob, strategy=strategy)
    assert [i.astuple() for i in back] == [i.astuple() for i in items]


@settings(max_examples=40, deadline=None)
@given(items=_items())
def test_property_roundtrip_paged_file(items):
    data = rs.encode_full_history_file(items, 0, 2**40)
    _, back = rs.decode_full_history_file(data)
    assert [i.astuple() for i in back] == [i.astuple() for i in items]


def test_ref_dir_reader_roundtrips_sharded_sink(spark, tmp_path):
    """write_ref_files (one .dat per partition) then read_ref_dir_df (one
    decode task per file) must reproduce the exact item set — the sharded
    archive round trip."""
    items = _fixture_items()
    rows = [i.astuple() for i in items]
    schema = (
        "is_storage boolean, block long, address binary, nonce long, "
        "balance binary, incarnation long, code_hash binary, slot binary, "
        "value binary"
    )
    df = (
        spark.createDataFrame(rows, schema)
        .repartitionByRange(4, "address", "is_storage", "incarnation", "slot")
        .sortWithinPartitions(
            "address", "is_storage", "incarnation", "slot", "block"
        )
    )
    out = str(tmp_path / "shards")
    rs.write_ref_files(df, out, strategy=1)
    back = rs.read_ref_dir_df(spark, out, strategy=1)
    got = sorted(
        (
            r.is_storage, r.block, bytes(r.address), r.nonce,
            None if r.balance is None else bytes(r.balance),
            r.incarnation,
            None if r.code_hash is None else bytes(r.code_hash),
            None if r.slot is None else bytes(r.slot),
            None if r.value is None else bytes(r.value),
        )
        for r in back.collect()
    )
    assert got == sorted(rows)


def test_truncated_stream_raises_with_offset():
    items = [acct(3, A1, 1, 5, 0), stor(3, A1, 1, 2, 7)]
    blob = rs.encode_items(items, strategy=1)
    with pytest.raises(ValueError, match="truncated"):
        rs.decode_items(blob[: len(blob) - 1], strategy=1)
    with pytest.raises(ValueError, match="truncated"):
        rs.decode_items(blob[:22], strategy=1)  # mid-address


@settings(max_examples=300, deadline=None)
@given(junk=st.binary(min_size=0, max_size=200), strategy=st.sampled_from([0, 1]))
def test_fuzz_decode_never_hangs_or_crashes(junk, strategy):
    """Arbitrary bytes either decode to items or raise ValueError — the
    reader's error model (the C reader's EINVAL/EIO paths), never an
    uncontrolled exception or infinite loop. Every opcode byte is covered
    by the dispatch, so failures come only from truncation."""
    try:
        items = rs.decode_items(junk, strategy=strategy)
    except ValueError:
        return
    for it in items:
        assert isinstance(it, (rs.AccountItem, rs.StorageItem))


# ---------------------------------------------------------------------------
# O(log N) point lookup into the merged file (README.md:37-41)
# ---------------------------------------------------------------------------


def _lookup_truth(items, address, block, *, slot=None, incarnation=0):
    """Linear-scan oracle: greatest item <= the target key whose
    (address, kind, incarnation, slot) matches exactly — the same as-of
    semantics plans/state.account_state_at answers from Parquet."""
    kind = 0 if slot is None else 1
    tgt = (address, kind, incarnation if kind else 0, slot or b"", block)
    best = None
    for it in items:
        k = rs._item_sort_key(it)
        if k <= tgt and k[:4] == tgt[:4]:
            best = it
    return best


def test_point_lookup_parity_exhaustive(tmp_path):
    """Every (address x block) account probe and every (address, inc,
    slot) x block storage probe over the fixture history answers
    identically to the linear-scan oracle."""
    items = _fixture_items()
    path = tmp_path / "merged.dat"
    path.write_bytes(rs.encode_full_history_file(items, 0, 121))

    addresses = sorted({it.address for it in items})
    blocks = list(range(0, 126, 7)) + [0, 1, 120, 121, 125]
    for addr in addresses:
        for b in blocks:
            got, _ = rs.point_lookup(str(path), addr, b)
            want = _lookup_truth(items, addr, b)
            assert (None if got is None else got.astuple()) == (
                None if want is None else want.astuple()
            ), (addr.hex(), b)
    storage_keys = sorted(
        {(it.address, it.incarnation, it.slot) for it in items if it.is_storage}
    )
    for addr, inc, slot in storage_keys[:12]:
        for b in blocks:
            got, _ = rs.point_lookup(
                str(path), addr, b, slot=slot, incarnation=inc
            )
            want = _lookup_truth(items, addr, b, slot=slot, incarnation=inc)
            assert (None if got is None else got.astuple()) == (
                None if want is None else want.astuple()
            ), (addr.hex(), inc, slot.hex(), b)


def test_point_lookup_not_found(tmp_path):
    items = _fixture_items()
    path = tmp_path / "merged.dat"
    path.write_bytes(rs.encode_full_history_file(items, 0, 121))
    # address below / above / between every fixture address
    got, _ = rs.point_lookup(str(path), bytes(20), 10**9)
    assert got is None
    got, _ = rs.point_lookup(str(path), b"\xff" * 20, 10**9)
    assert got is None
    # block earlier than the key's first version (genesis rows dropped)
    it0 = min(items, key=rs._item_sort_key)
    if it0.block > 0:
        got, _ = rs.point_lookup(str(path), it0.address, it0.block - 1)
        assert got is None


def test_point_lookup_touches_olog_pages(tmp_path):
    """The capability claim itself: on a many-page file the lookup reads
    ceil(log2(pages)) first-item probes plus ONE fully-decoded page —
    never a scan. Counted, not trusted."""
    import math

    fx = fxmod.generate(seed=7, n_addresses=700, n_blocks=4000,
                        n_body_blocks=10)
    rows = fxmod.expected_state_history(fx)
    items = []
    for addr, kind, inc, slot, block_from, nonce, bal, ch, val in rows:
        if kind == 0:
            items.append(rs.AccountItem(block_from, addr, nonce, bal, inc, ch))
        else:
            items.append(rs.StorageItem(block_from, addr, inc, slot, val))
    path = tmp_path / "big.dat"
    path.write_bytes(rs.encode_full_history_file(items, 0, 4001))

    probe_addrs = sorted({it.address for it in items})[::9]
    max_probes = 0
    for addr in probe_addrs:
        got, stats = rs.point_lookup(str(path), addr, 2000)
        want = _lookup_truth(items, addr, 2000)
        assert (None if got is None else got.astuple()) == (
            None if want is None else want.astuple()
        )
        assert stats["pages_total"] >= 32, stats  # claim needs real N
        bound = math.ceil(math.log2(stats["pages_total"])) + 1
        assert stats["page_probes"] <= bound, stats
        assert stats["pages_fully_decoded"] == 1, stats
        # IO bound: probed pages + the final page + the header
        assert stats["bytes_read"] <= (stats["page_probes"] + 1) * 4096 + 256
        max_probes = max(max_probes, stats["page_probes"])
    assert max_probes >= 2  # the search actually bisected


def _archive(path, items, block_end=121):
    path.write_bytes(rs.encode_full_history_file(items, 0, block_end))
    return str(path)


def _account_answer(path, item):
    got, _ = rs.point_lookup(path, item.address, item.block)
    return None if got is None else got.astuple()


@pytest.mark.parametrize(
    "damage, message",
    [
        (lambda blob: blob[: len(blob) - 100], "truncated archive"),
        (lambda blob: blob[: rs.HEADER_SIZE - 1], "shorter than the 256-byte archive header"),
        (lambda blob: b"\0" * 8 + blob[8:], "bad header magic"),
        (lambda blob: blob[:3] + bytes([blob[3] ^ 1]) + blob[4:], "bad header magic"),
        (
            lambda blob: blob[: rs.merged_page_starts(rs.decode_header(blob), len(blob))[-1]],
            "truncated archive",
        ),
    ],
    ids=[
        "end_of_states_past_eof",
        "short_header",
        "bad_magic",
        "magic_byte_3_flipped",
        "cut_at_page_boundary",
    ],
)
def test_point_lookup_rejects_a_damaged_archive(spark, tmp_path, damage, message):
    """A damaged archive raises a ValueError naming the defect in every
    merged-layout reader; none answers from what is left (a lost tail
    would otherwise yield an older version, None, or fewer rows). The
    readers given a path name it in the error."""
    items = _fixture_items()
    path = tmp_path / "damaged.dat"
    path.write_bytes(damage(rs.encode_full_history_file(items, 0, 121)))
    last = max(items, key=rs._item_sort_key)
    with pytest.raises(ValueError, match=message) as lookup_err:
        rs.point_lookup(str(path), last.address, 10**9)
    assert str(path) in str(lookup_err.value)
    with pytest.raises(ValueError, match=message) as df_err:
        rs.read_ref_file_df(spark, str(path), strategy=0)
    assert str(path) in str(df_err.value)
    with pytest.raises(ValueError, match=message):
        rs.decode_full_history_file(path.read_bytes())


def _bumped(items):
    """The same keys with every account nonce changed: new file bytes."""
    return [
        rs.AccountItem(i.block, i.address, i.nonce + 5, i.balance, i.incarnation, i.code_hash)
        if not i.is_storage else i
        for i in items
    ]


def test_point_lookup_follows_an_archive_replaced_at_its_path(tmp_path):
    items = _fixture_items()
    path = _archive(tmp_path / "a.dat", items)
    probe = [i for i in items if not i.is_storage][-1]
    assert _account_answer(path, probe) == probe.astuple()
    os.replace(_archive(tmp_path / "next.dat", _bumped(items)), path)
    assert _account_answer(path, probe) == _bumped([probe])[0].astuple()


def test_point_lookup_follows_an_archive_rewritten_in_place(tmp_path):
    """The reader cache revalidates on (inode, size, mtime): a rewrite of
    the same inode that changes the file is seen on the next call, even
    though the old reader's mapping shows the new bytes under its stale
    page fences (a new lowest address shifts every item by pages)."""
    items = _fixture_items()
    path = _archive(tmp_path / "a.dat", items)
    probe = [i for i in items if not i.is_storage][-1]
    assert _account_answer(path, probe) == probe.astuple()
    inode = os.stat(path).st_ino
    first = [rs.AccountItem(b, bytes(20), b, b32(b), 0, bytes(32)) for b in range(1, 400)]
    with open(path, "r+b") as f:
        f.write(rs.encode_full_history_file(first + _bumped(items), 0, 400))
    assert os.stat(path).st_ino == inode
    assert _account_answer(path, probe) == _bumped([probe])[0].astuple()


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"), reason="needs /proc/self/fd")
def test_point_lookup_keeps_a_fixed_number_of_open_archives(tmp_path):
    items = _fixture_items()
    probe = items[0]
    before = len(os.listdir("/proc/self/fd"))
    for n in range(3 * rs._MAX_READERS):
        path = _archive(tmp_path / f"a{n}.dat", items)
        assert _account_answer(path, probe) == probe.astuple()
    assert len(rs._READERS) == rs._MAX_READERS
    assert len(os.listdir("/proc/self/fd")) - before <= rs._MAX_READERS


def test_warm_point_lookup_reads_at_most_one_page(tmp_path):
    """Once a search path's fences are known, a repeated lookup probes no
    page and decodes part of one page only."""
    fx = fxmod.generate(seed=7, n_addresses=300, n_blocks=2000, n_body_blocks=10)
    items = [
        rs.AccountItem(r[4], r[0], r[5], r[6], r[2], r[7]) if r[1] == 0
        else rs.StorageItem(r[4], r[0], r[2], r[3], r[8])
        for r in fxmod.expected_state_history(fx)
    ]
    path = _archive(tmp_path / "warm.dat", items, 2001)
    for it in items[:: max(1, len(items) // 20)]:
        kw = {"slot": it.slot, "incarnation": it.incarnation} if it.is_storage else {}
        cold, _ = rs.point_lookup(path, it.address, it.block, **kw)
        warm, stats = rs.point_lookup(path, it.address, it.block, **kw)
        assert stats["pages_total"] >= 16, stats
        assert warm.astuple() == cold.astuple() == it.astuple()
        assert stats["page_probes"] == 0, stats
        assert 0 < stats["bytes_read"] <= 4096, stats
