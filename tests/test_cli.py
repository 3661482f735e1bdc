"""CLI surface (erigon_extract_spark/cli.py) — the reference's -s/-S/-T
inspect and copy_file verify commands (erigon_extract.c:2595-2653,
2047-2100), plus the Spark-side build/dump/state-at entry points."""

from __future__ import annotations

import io
import sys

from erigon_extract_spark import cli
from erigon_extract_spark import fixture_store
from erigon_extract_spark.codec import refstream as rs


def _run(argv, capsys):
    rc = cli.main(argv)
    out = capsys.readouterr().out
    return rc, out


def test_show_merged_prints_reference_format(capsys):
    d = str(fixture_store.ensure())
    rc, out = _run(["show", "-T", f"{d}/full-history.dat"], capsys)
    assert rc == 0
    lines = out.splitlines()
    assert lines[0].startswith("(header end_of_states=")
    assert any(l.startswith("  Account block=") for l in lines)
    assert any(l.startswith("  Storage block=") for l in lines)
    assert any(l.startswith("(set address=") for l in lines)
    assert any(l.startswith("(set block=") for l in lines)
    # item count == fixture state history rows
    n_acct = sum(1 for l in lines if l.startswith("  Account"))
    n_stor = sum(1 for l in lines if l.startswith("  Storage"))
    assert n_acct + n_stor == 429


def test_copy_merged_to_merged_is_byte_identical(tmp_path, capsys):
    d = str(fixture_store.ensure())
    src = f"{d}/full-history.dat"
    dst = str(tmp_path / "copy.dat")
    rc, _ = _run(["copy", "-T", src, dst, "--out-merged"], capsys)
    assert rc == 0
    assert open(src, "rb").read() == open(dst, "rb").read()


def test_copy_transcode_roundtrip_preserves_items(tmp_path, capsys):
    d = str(fixture_store.ensure())
    src = f"{d}/full-history.dat"
    mid = str(tmp_path / "s1.dat")
    rc, _ = _run(["copy", "-T", src, mid, "--out-strategy", "1"], capsys)
    assert rc == 0
    _, orig = rs.decode_full_history_file(open(src, "rb").read())
    back = rs.decode_items(open(mid, "rb").read(), strategy=1)
    assert [i.astuple() for i in back] == [i.astuple() for i in orig]


def test_print_number_trims_leading_zero_nibbles():
    assert cli._print_number(bytes(32)) == "0"
    assert cli._print_number((0xF5E).to_bytes(32, "big")) == "f5e"
    assert cli._print_number((0x10).to_bytes(4, "big")) == "10"


def test_cli_build_dump_state_at_roundtrip(spark, tmp_path, capsys):
    """The Spark-side CLI chain: build writes the sorted store + manifest,
    dump emits canonical lines for every row, state-at answers an as-of
    query against the written store."""
    store = str(tmp_path / "store")
    rc = cli.main(["build", "--out", store, "--partitions", "2"])
    out = capsys.readouterr().out
    assert rc == 0 and "'total': 429" in out

    rc = cli.main(["dump", store])
    dump_out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in dump_out.splitlines() if l]
    assert len(lines) == 429
    assert any(l.startswith("A ") for l in lines)
    assert any(l.startswith("S ") for l in lines)

    rc = cli.main(["state-at", store, "--block", "100"])
    sa_out = capsys.readouterr().out
    assert rc == 0
    sa_lines = [l for l in sa_out.splitlines() if l]
    assert 0 < len(sa_lines) <= 8  # one row per address alive at block 100
    assert all(l.startswith("A ") and "@" in l for l in sa_lines)


def test_cli_profile_and_compact(spark, sf_dir, tmp_path, capsys):
    from erigon_extract_spark import cli

    rc = cli.main(["profile", f"{sf_dir}/documents.parquet"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.splitlines() if l]
    assert len(lines) == 5  # one per documents column
    assert any(l.startswith("doc_id:") and "nulls=0" in l for l in lines)

    src, dst = str(tmp_path / "s"), str(tmp_path / "d")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(16).write.parquet(src)
    rc = cli.main(["compact", src, dst, "--rows-per-file", "1000",
                   "--sort-by", "doc_id"])
    out = capsys.readouterr().out
    assert rc == 0 and "files)" in out
    assert (spark.read.parquet(dst).count()
            == spark.read.parquet(src).count())


def test_cli_state_at_ref_file_point_lookup(capsys):
    """state-at --ref-file: the O(log N) lookup INTO the encoded merged
    file (reference README.md:37-41) — answers must match the full
    decode of the same committed fixture file, account and storage."""
    d = str(fixture_store.ensure())
    path = f"{d}/full-history.dat"
    _hdr, items = rs.decode_full_history_file(open(path, "rb").read())

    accounts = [i for i in items if not i.is_storage]
    probe = accounts[len(accounts) // 2]
    want = max(
        (i for i in accounts
         if i.address == probe.address and i.block <= probe.block),
        key=lambda i: i.block,
    )
    rc = cli.main(["state-at", path, "--ref-file",
                   "--block", str(probe.block),
                   "--address", probe.address.hex()])
    cap = capsys.readouterr()
    assert rc == 0
    assert f"Account block={want.block} address={want.address.hex()}" in cap.out
    assert f"nonce={want.nonce}" in cap.out
    assert "page probes" in cap.err and "pages decoded" in cap.err

    storages = [i for i in items if i.is_storage]
    sp = storages[len(storages) // 2]
    swant = max(
        (i for i in storages
         if (i.address, i.incarnation, i.slot) == (sp.address, sp.incarnation, sp.slot)
         and i.block <= sp.block),
        key=lambda i: i.block,
    )
    rc = cli.main(["state-at", path, "--ref-file",
                   "--block", str(sp.block),
                   "--address", sp.address.hex(),
                   "--slot", sp.slot.hex(),
                   "--incarnation", str(sp.incarnation)])
    cap = capsys.readouterr()
    assert rc == 0
    assert f"Storage block={swant.block} address={swant.address.hex()}" in cap.out

    # unknown address: not found, exit 1
    rc = cli.main(["state-at", path, "--ref-file",
                   "--block", "1000000", "--address", "ff" * 20])
    cap = capsys.readouterr()
    assert rc == 1 and "(not found)" in cap.err


def test_cli_state_at_parquet_slot_answers_storage(spark, tmp_path, capsys):
    """state-at <parquet> --slot answers the storage as-of lookup (one line
    per incarnation of the slot), not the account; the store holds the
    committed fixture history (full-history.dat) as sorted Parquet."""
    from erigon_extract_spark.schemas import STATE_HISTORY, STATE_HISTORY_KEY
    from erigon_extract_spark.sources.tables import write_sorted_parquet

    d = str(fixture_store.ensure())
    _hdr, items = rs.decode_full_history_file(open(f"{d}/full-history.dat", "rb").read())
    rows = [
        (i.address, 1, i.incarnation, i.slot, i.block, None, None, None, i.value)
        if i.is_storage else
        (i.address, 0, i.incarnation, None, i.block, i.nonce, i.balance, i.code_hash, None)
        for i in items
    ]
    store = str(tmp_path / "store")
    write_sorted_parquet(spark.createDataFrame(rows, STATE_HISTORY), store,
                         STATE_HISTORY_KEY, num_partitions=2)

    sp = [i for i in items if i.is_storage][len(items) // 3]
    block = sp.block + 1
    want = {}  # incarnation -> latest version of the slot at or before block
    for i in items:
        if i.is_storage and (i.address, i.slot) == (sp.address, sp.slot) and i.block <= block:
            if i.incarnation not in want or want[i.incarnation].block < i.block:
                want[i.incarnation] = i
    args = ["state-at", store, "--block", str(block), "--address", sp.address.hex(),
            "--slot", sp.slot.hex()]
    rc, out = _run(args, capsys)
    lines = sorted(l for l in out.splitlines() if l)
    assert rc == 0
    assert lines == sorted(
        f"S {i.address.hex()} inc={i.incarnation} slot={i.slot.hex()} @{i.block} "
        f"value={cli._print_number(i.value)}"
        for i in want.values()
    )

    rc, out = _run(args + ["--incarnation", str(sp.incarnation)], capsys)
    assert rc == 0
    assert [l for l in out.splitlines() if l] == [
        l for l in lines if f" inc={sp.incarnation} " in l
    ]
