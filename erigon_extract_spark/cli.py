"""Command-line entry points — the inspect/transform surface of the
reference binary (show_usage, erigon_extract.c:2595-2611), Spark-side.

    python -m erigon_extract_spark.cli show <file>          # reference -s
    python -m erigon_extract_spark.cli show -S <file>       # reference -S
    python -m erigon_extract_spark.cli show -T <file>       # reference -T
    python -m erigon_extract_spark.cli copy -T <in> <out>   # transcode (copy_file, 2047-2100)
    python -m erigon_extract_spark.cli build --fixtures <outdir>   # pipeline -> sorted parquet
    python -m erigon_extract_spark.cli dump <state_history_parquet>  # K5 canonical dump
    python -m erigon_extract_spark.cli state-at <parquet> --block N [--address hex [--slot hex]]
    python -m erigon_extract_spark.cli state-at <merged.dat> --ref-file --block N --address hex [--slot hex]
    python -m erigon_extract_spark.cli profile <parquet> [--approx]  # per-column stats
    python -m erigon_extract_spark.cli compact <src> <dst> [--rows-per-file N] [--sort-by cols]

``show`` mirrors the reference's output line formats (print_account /
print_storage / the dim "(set ...)" trace lines, erigon_extract.c:361-424)
without ANSI color, so dumps diff cleanly against reference output.
``show -T`` and ``copy -T`` check a merged file's header first (the same
check as every other merged-layout reader), so a damaged archive raises
``ValueError`` instead of printing or copying part of it.
"""

from __future__ import annotations

import argparse
import sys


def _print_number(b: bytes) -> str:
    """print_number (erigon_extract.c:89-103): hex with leading zero
    NIBBLES trimmed; '0' when all zero."""
    h = b.hex().lstrip("0")
    return h if h else "0"


def _show(args) -> int:
    from erigon_extract_spark.codec import refstream as rs

    data = open(args.file, "rb").read()
    start = 256 if args.merged else 0
    end = None
    if args.merged:
        hdr = rs.checked_header(data, len(data), args.file)
        start, end = hdr["header_size"], hdr["end_of_states"]
        print(f"(header end_of_states={end} page_shift={hdr['page_shift']} "
              f"blocks={hdr['block_start']}..{hdr['block_end']})")

    def trace(event, value):
        if event == "block":
            print(f"(set block={value})")
        elif event == "address":
            print(f"(set address={value.hex()})")
        elif event == "incarnation":
            print(f"(bytecode_incarnation={value})")

    reader = rs.RefReader(strategy=args.strategy, trace=trace)
    n = 0
    for it in reader.items(data, start, end):
        if it.is_storage:
            print(f"  Storage block={it.block} "
                  f"slot={it.address.hex()}/{it.slot.hex()}")
            print(f"          inc={it.incarnation} "
                  f"value={_print_number(it.value)}")
        else:
            code = (
                "0"
                if it.code_hash in (bytes(32), rs.EMPTY_CODE_HASH)
                else it.code_hash.hex()
            )
            print(f"  Account block={it.block} address={it.address.hex()}")
            print(f"          inc={it.incarnation} nonce={it.nonce} "
                  f"balance={_print_number(it.balance)} codeHash={code}")
        n += 1
    print(f"({n} items)", file=sys.stderr)
    return 0


def _copy(args) -> int:
    """copy_file equivalent (erigon_extract.c:2047-2100): decode with one
    strategy/layout, re-encode with another — the round-trip verifier."""
    from erigon_extract_spark.codec import refstream as rs

    data = open(args.infile, "rb").read()
    start, end = 0, None
    blocks = None
    if args.merged:
        hdr = rs.checked_header(data, len(data), args.infile)
        start, end = hdr["header_size"], hdr["end_of_states"]
        blocks = (hdr["block_start"], hdr["block_end"])
    items = rs.decode_items(data, strategy=args.strategy, start=start, end=end)
    if args.out_merged:
        if blocks is None:
            blocks = (
                min((i.block for i in items), default=0),
                max((i.block for i in items), default=0),
            )
        out = rs.encode_full_history_file(
            items, block_start=blocks[0], block_end=blocks[1]
        )
    else:
        out = rs.encode_items(items, strategy=args.out_strategy)
    open(args.outfile, "wb").write(out)
    print(f"({len(items)} items -> {len(out)} bytes)", file=sys.stderr)
    return 0


def _spark():
    from erigon_extract_spark.session import get_spark

    return get_spark(app_name="cli")


def _build(args) -> int:
    """Run the strict pipeline end-to-end and commit the sorted store with
    its manifest (the reference's full transformation run,
    erigon_extract.c:2663-2706). The raw tables carry no SyncStage, so the
    upper bound is the latest account-changeset block."""
    from erigon_extract_spark import fixture_store
    from erigon_extract_spark.plans.pipeline import (
        PipelineTables,
        build_full_history,
        write_full_history,
    )
    from erigon_extract_spark.schemas import SYNC_STAGE
    from erigon_extract_spark.sources.tables import read_table

    spark = _spark()
    src = args.fixtures or str(fixture_store.ensure())
    tables = PipelineTables(
        sync_stage=spark.createDataFrame([], SYNC_STAGE),
        **{
            name: read_table(spark, f"{src}/{name}.parquet", name)
            for name in fixture_store.RAW_TABLES
        },
    )
    sh = build_full_history(spark, tables, num_partitions=args.partitions)
    print(write_full_history(sh, args.out, num_partitions=args.partitions))
    return 0


def _dump(args) -> int:
    from erigon_extract_spark.operators.dump import dump_text

    spark = _spark()
    sys.stdout.write(dump_text(spark.read.parquet(args.store)))
    return 0


def _state_at(args) -> int:
    if args.ref_file:
        return _state_at_ref_file(args)
    from pyspark.sql import functions as F

    from erigon_extract_spark.operators.dump import canonical_dump
    from erigon_extract_spark.plans.state import account_state_at, storage_state_at
    from erigon_extract_spark.schemas import STATE_HISTORY

    spark = _spark()
    sh = spark.read.parquet(args.store)
    address = bytes.fromhex(args.address) if args.address else None
    if args.slot is None:
        rows = account_state_at(sh, block=args.block, address=address)
        kind = 0
    else:
        rows = storage_state_at(
            sh, block=args.block, address=address, slot=bytes.fromhex(args.slot)
        )
        kind = 1
        if args.incarnation is not None:
            rows = rows.filter(F.col("incarnation") == args.incarnation)
    rows = rows.withColumn("kind", F.lit(kind))
    for f in STATE_HISTORY.fields:  # the other kind's columns, for the dump
        if f.name not in rows.columns:
            rows = rows.withColumn(f.name, F.lit(None).cast(f.dataType))
    for r in canonical_dump(rows).collect():
        print(r["line"])
    return 0


def _state_at_ref_file(args) -> int:
    """O(log N) as-of lookup INTO an encoded merged file (no Spark, no
    full decode — the reference README's headline read path): binary
    search over the file's 4 KiB restart pages via codec.refstream.
    point_lookup. With --slot, the account is looked up first to resolve
    the live incarnation as of the block — two O(log N) searches."""
    from erigon_extract_spark.codec import refstream as rs

    if not args.address:
        print("--ref-file requires --address", file=sys.stderr)
        return 2
    address = bytes.fromhex(args.address)
    it, stats = rs.point_lookup(args.store, address, args.block)
    if args.slot is not None:
        if it is None:
            print("(account not found; no incarnation for slot lookup)",
                  file=sys.stderr)
            return 1
        inc = args.incarnation if args.incarnation is not None else it.incarnation
        it, s2 = rs.point_lookup(
            args.store, address, args.block,
            slot=bytes.fromhex(args.slot), incarnation=inc,
        )
        for k in ("page_probes", "pages_fully_decoded", "bytes_read"):
            stats[k] += s2[k]
    if it is None:
        print("(not found)", file=sys.stderr)
        print(f"({stats['page_probes']} page probes, "
              f"{stats['pages_fully_decoded']} pages decoded, "
              f"{stats['bytes_read']} bytes of {stats['pages_total']} pages)",
              file=sys.stderr)
        return 1
    if it.is_storage:
        print(f"  Storage block={it.block} address={it.address.hex()}")
        print(f"          inc={it.incarnation} "
              f"value={_print_number(it.value)}")
    else:
        code = (
            "0"
            if it.code_hash in (bytes(32), rs.EMPTY_CODE_HASH)
            else it.code_hash.hex()
        )
        print(f"  Account block={it.block} address={it.address.hex()}")
        print(f"          inc={it.incarnation} nonce={it.nonce} "
              f"balance={_print_number(it.balance)} codeHash={code}")
    print(f"({stats['page_probes']} page probes, "
          f"{stats['pages_fully_decoded']} pages decoded, "
          f"{stats['bytes_read']} bytes of {stats['pages_total']} pages)",
          file=sys.stderr)
    return 0


def _profile(args) -> int:
    from erigon_extract_spark.operators.profile import profile_table
    from erigon_extract_spark.session import get_spark

    spark = get_spark(app_name="cli-profile")
    df = spark.read.parquet(args.parquet)
    for r in sorted(
        profile_table(df, exact=not args.approx).collect(),
        key=lambda r: r.col_name,
    ):
        print(
            f"{r.col_name}: rows={r.n_rows} nulls={r.n_nulls} "
            f"distinct={r.n_distinct} min={r.min_s} max={r.max_s}"
        )
    return 0


def _compact(args) -> int:
    from erigon_extract_spark.session import get_spark
    from erigon_extract_spark.sources.compact import compact_parquet

    spark = get_spark(app_name="cli-compact")
    n = compact_parquet(
        spark,
        args.src,
        args.dst,
        target_rows_per_file=args.rows_per_file,
        sort_cols=args.sort_by.split(",") if args.sort_by else None,
    )
    print(f"compacted {args.src} -> {args.dst} ({n} files)")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="erigon_extract_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("show", help="decode + print an encoded file (-s/-S/-T)")
    p.add_argument("file")
    p.add_argument("-S", dest="strategy", action="store_const", const=1,
                   default=0, help="strategy-1 file (reference -S)")
    p.add_argument("-T", dest="merged", action="store_true",
                   help="merged file with header+pages (reference -T)")
    p.set_defaults(fn=_show)

    p = sub.add_parser("copy", help="decode + re-encode (copy_file verifier)")
    p.add_argument("infile")
    p.add_argument("outfile")
    p.add_argument("-S", dest="strategy", action="store_const", const=1, default=0)
    p.add_argument("-T", dest="merged", action="store_true")
    p.add_argument("--out-strategy", type=int, default=0)
    p.add_argument("--out-merged", action="store_true")
    p.set_defaults(fn=_copy)

    p = sub.add_parser("build", help="run the pipeline, write the sorted store")
    p.add_argument("--fixtures", default=None,
                   help="input dir (default: the committed fixture parquet)")
    p.add_argument("--out", required=True)
    p.add_argument("--partitions", type=int, default=None)
    p.set_defaults(fn=_build)

    p = sub.add_parser("dump", help="K5 canonical text dump of a store")
    p.add_argument("store")
    p.set_defaults(fn=_dump)

    p = sub.add_parser("state-at", help="as-of account state query")
    p.add_argument("store", help="state-history parquet, or with "
                   "--ref-file a merged encoded .dat file")
    p.add_argument("--block", type=int, required=True)
    p.add_argument("--address", default=None, help="hex, no 0x")
    p.add_argument("--ref-file", action="store_true",
                   help="store is an encoded merged full-history file: "
                   "answer via O(log N) restart-page binary search "
                   "(no Spark, no full decode)")
    p.add_argument("--slot", default=None,
                   help="hex storage slot: storage as-of lookup (on a "
                   "parquet store, one line per incarnation; with "
                   "--ref-file, the incarnation is resolved via the account)")
    p.add_argument("--incarnation", type=int, default=None,
                   help="the slot lookup's incarnation")
    p.set_defaults(fn=_state_at)

    p = sub.add_parser("profile", help="per-column stats of a parquet table")
    p.add_argument("parquet")
    p.add_argument("--approx", action="store_true",
                   help="HLL cardinalities (the 100 TB mode)")
    p.set_defaults(fn=_profile)

    p = sub.add_parser("compact", help="rewrite a dataset into right-sized files")
    p.add_argument("src")
    p.add_argument("dst")
    p.add_argument("--rows-per-file", type=int, default=1_000_000)
    p.add_argument("--sort-by", default=None, help="comma-separated columns")
    p.set_defaults(fn=_compact)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
