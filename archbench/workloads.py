"""The two workloads: ``build`` and ``increment``.

Each workload has a primary and a secondary operation, and reports the
same end-to-end metric names (README.md says what each means per
workload). Untraced runs call the program's public functions the way a
user does; a traced run alternates untraced operations with traced ones,
which wrap each layer call in a span and force the layer's output at its
boundary.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from archbench.inputs import (
    KeyMix,
    Oracle,
    account_key,
    canonical_hash,
    generate,
    storage_key,
    write_tables,
)
from archbench.trace import Tracer
from erigon_extract_spark.codec import refstream as rs
from erigon_extract_spark.plans import pipeline
from erigon_extract_spark.plans.extract import (
    decode_account_changesets,
    decode_storage_changesets,
    recover_code_hashes,
    split_plain_state,
)
from erigon_extract_spark.plans.incremental import (
    derive_snapshot_at,
    incremental_history_delta,
    seam_violations,
    zero_tombstones,
)
from erigon_extract_spark.plans.pipeline import (
    PipelineTables,
    build_full_history,
    write_full_history,
)
from erigon_extract_spark.plans.state import account_state_at, storage_state_at
from erigon_extract_spark.plans.transpose import build_state_history
from erigon_extract_spark.schemas import EMPTY_CODE_HASH, STATE_HISTORY_KEY, ZERO_HASH
from erigon_extract_spark.sources import tables as tables_mod
from erigon_extract_spark.sources.tables import read_table, write_sorted_parquet

N_BLOCKS = 1_000_000
SETUP_REPS = 3
# archive lookups after each build, for at least this long
ARCHIVE_LOOKUP_S = 2.5


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one scale. ``full`` is what the benchmark measures;
    ``tiny`` only exercises every path (smoke test)."""

    build_addresses: int
    increment_addresses: int
    appends: int
    archive_lookups_per_build: int
    fresh_per_append: int


SCALES = {
    # the lookup windows (after the warm-up and after each of at least two
    # builds) leave at least ten samples beyond their p99; 40 fresh lookups
    # leave ten beyond their p75
    "full": Sizes(5000, 1500, 2, 500, 20),
    "tiny": Sizes(200, 200, 2, 10, 2),
}


@dataclass
class Bench:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    sizes: Sizes
    nproc: int
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    primary: list = field(default_factory=list)  # (traced, seconds)
    secondary: list = field(default_factory=list)
    per_layer: dict = field(default_factory=dict)
    started: float = field(default_factory=time.perf_counter)

    def log(self, what: str) -> None:
        """Progress to standard error, stamped with seconds since start."""
        print(f"archbench: {time.perf_counter() - self.started:7.1f}s {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"archbench: wrong answer: {what}", file=sys.stderr)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"archbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)

    def traced_op(self, i: int) -> bool:
        """In a traced run odd-numbered operations are traced, so each run
        has untraced operations to measure the tracing overhead against."""
        return self.trace and i % 2 == 1

    def span(self, name: str, spark: bool = True):
        return self.tracer.span(name, spark=spark)


# ---------------------------------------------------------------- set-up


def prepare(b: Bench, n_addresses: int, name: str):
    """Generate the seeded chain and write its raw tables, ``SETUP_REPS``
    times (the median is set-up time); returns (fixtures, table paths)."""
    times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        fx = generate(b.seed, n_addresses, N_BLOCKS, hot=max(2, n_addresses // 1000))
        paths = write_tables(fx, os.path.join(b.work, f"{name}-in{rep}"))
        times.append(time.perf_counter() - t0)
    b.setup_s += statistics.median(times)
    b.log(f"{name} inputs ready")
    return fx, paths


def read_tables(spark, paths: dict[str, str]) -> PipelineTables:
    return PipelineTables(**{n: read_table(spark, p, n) for n, p in paths.items()})


def build_store(b: Bench, paths, out: str) -> dict:
    """The user's ETL: raw tables -> sorted Parquet store + manifest."""
    sh = build_full_history(b.spark, read_tables(b.spark, paths), num_partitions=b.nproc)
    return write_full_history(sh, out, num_partitions=b.nproc)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the Parquet data files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def read_store(*dirs: str) -> pa.Table:
    return pa.concat_tables([pq.read_table(d) for d in dirs])


def export_archive(b: Bench, store: str, out: str, block_end: int, traced: bool):
    """Store -> paged reference-dialect archive, fed to the encoder in the
    merge comparator's order. Returns (items, archive bytes, pages)."""
    t = read_store(store)
    key_inc = pc.if_else(pc.equal(t["kind"], 1), t["incarnation"], 0)
    t = t.append_column("__key_inc", key_inc).sort_by(
        [(c, "ascending") for c in ("address", "kind", "__key_inc", "slot", "block_from")]
    )
    cols = [t[c].to_pylist() for c in
            ("address", "kind", "incarnation", "slot", "block_from",
             "nonce", "balance", "code_hash", "value")]
    items = [
        rs.AccountItem(blk, addr, nonce, bal, inc, ch) if kind == 0
        else rs.StorageItem(blk, addr, inc, slot, val)
        for addr, kind, inc, slot, blk, nonce, bal, ch, val in zip(*cols)
    ]
    if traced:
        with b.span("codec.refstream.encode", spark=False) as sp:
            blob = rs.encode_full_history_file(items, 0, block_end)
            sp["counts"]["items"] = len(items)
    else:
        blob = rs.encode_full_history_file(items, 0, block_end)
    with open(out, "wb") as f:
        f.write(blob)
    pages = len(rs.merged_page_starts(rs.decode_header(blob), len(blob)))
    return len(items), len(blob), pages


# ----------------------------------------------------------------- build


@contextmanager
def traced_layers(b: Bench):
    """Run ``build_full_history``/``write_full_history`` themselves with
    each layer call they make wrapped in a span: the layer functions are
    swapped, for the duration, in the modules those two look them up in.
    Each wrapper forces its layer's output (persisted and counted) at the
    span boundary. Counting jobs the benchmark adds go in ``bench.count``
    spans, which the session totals leave out. A layer the pipeline no
    longer calls by these names fails the check at the end."""
    where = {
        "assert_empty": pipeline,
        "decode_account_changesets": pipeline,
        "decode_storage_changesets": pipeline,
        "recover_code_hashes": pipeline,
        "build_state_history": pipeline,
        "write_sorted_parquet": tables_mod,
        "write_manifest": tables_mod,
    }
    real = {name: getattr(mod, name) for name, mod in where.items()}
    kept, called = [], set()

    def forced(df):
        df = df.persist()
        kept.append(df)
        return df, df.count()

    def check(df, *args, **kw):
        with b.span("plans.extract.check"):
            return real["assert_empty"](df, *args, **kw)

    def decoder(name):
        def decode(*args, **kw):
            with b.span("functions.decode") as sp:
                df, sp["counts"]["rows"] = forced(real[name](*args, **kw))
            return df
        return decode

    def recover(accounts, *args, **kw):
        with b.span("plans.extract.recover"):
            out, _ = forced(real["recover_code_hashes"](accounts, *args, **kw))
        # the recover step's needs-predicate (code hash elided: zero or
        # empty, incarnation != 0); recovery normalises empty to zero, so
        # an output row still zero with incarnation != 0 was not recovered
        live = F.col("incarnation") != 0
        zero = F.col("code_hash") == F.lit(ZERO_HASH)
        empty = F.col("code_hash") == F.lit(EMPTY_CODE_HASH)
        with b.span("bench.count") as sp:
            sp["counts"]["needs_recovery"] = accounts.filter((zero | empty) & live).count()
            sp["counts"]["unrecovered"] = out.filter(zero & live).count()
        return out

    def transpose(*args, **kw):
        with b.span("plans.transpose"):
            sh, _ = forced(real["build_state_history"](*args, **kw))
        with b.span("bench.count") as sp:
            sizes = sorted(r[1] for r in sh.groupBy(F.spark_partition_id()).count().collect())
            sp["counts"]["skew_max"] = sizes[-1]
            sp["counts"]["skew_median"] = statistics.median(sizes)
        return sh

    def write(df, path, *args, **kw):
        with b.span("sources.tables.write") as sp:
            real["write_sorted_parquet"](df, path, *args, **kw)
            sp["counts"]["bytes"], sp["counts"]["files"] = dir_bytes(path)

    def manifest(*args, **kw):
        with b.span("sources.tables.manifest"):
            return real["write_manifest"](*args, **kw)

    def noting(name, fn):
        def wrapped(*args, **kw):
            called.add(name)
            return fn(*args, **kw)
        return wrapped

    wrappers = {
        "assert_empty": check,
        "decode_account_changesets": decoder("decode_account_changesets"),
        "decode_storage_changesets": decoder("decode_storage_changesets"),
        "recover_code_hashes": recover,
        "build_state_history": transpose,
        "write_sorted_parquet": write,
        "write_manifest": manifest,
    }
    for name, mod in where.items():
        setattr(mod, name, noting(name, wrappers[name]))
    try:
        yield
    finally:
        for name, mod in where.items():
            setattr(mod, name, real[name])
        for df in kept:
            df.unpersist()
    missed = sorted(set(where) - called)
    b.check(not missed, f"traced build never called {missed}: update traced_layers")


def run_build(b: Bench) -> None:
    fx, paths = prepare(b, b.sizes.build_addresses, "build")
    oracle = Oracle.for_fixtures(fx)
    mix = KeyMix(random.Random(b.seed * 7919 + 1), oracle.keys, fx.latest_block)
    # the first ETL of a process pays for JIT, code generation and Python
    # worker start-up, so it is not timed; its archive lookups are, which
    # spreads the lookups over more of the run
    etl_and_lookups(b, "warm-up", fx, paths, oracle, mix, traced=False)
    b.log("warmed up")

    archive = None
    deadline = time.perf_counter() + b.seconds
    i = 0
    while i < 2 or time.perf_counter() < deadline:
        archive = etl_and_lookups(b, i, fx, paths, oracle, mix, traced=b.traced_op(i)) or archive
        i += 1
    n_items, n_bytes, _ = archive or (0, 0, 0)
    b.per_layer["bytes_per_row"] = n_bytes / n_items if n_items else float("nan")
    b.per_layer["archive"] = archive


def etl_and_lookups(b: Bench, i, fx, paths, oracle: Oracle, mix: KeyMix, traced: bool):
    """One ETL (timed unless it is the warm-up), its checks, then archive
    lookups on the archive it wrote. Returns (items, archive bytes, pages),
    or None if it raised."""
    store = os.path.join(b.work, f"store{i}")
    archive = os.path.join(b.work, f"archive{i}.dat")
    want = {f"kind_{k}": n for k, n in oracle.counts.items()}
    want["total"] = len(oracle.rows)
    out = None
    try:
        t0 = time.perf_counter()
        with b.span("bench.op") if traced else nullcontext():
            with traced_layers(b) if traced else nullcontext():
                manifest = build_store(b, paths, store)
            out = export_archive(b, store, archive, fx.latest_block + 1, traced)
        if i != "warm-up":
            b.primary.append((traced, time.perf_counter() - t0))
        b.check(manifest["counts"] == want, f"build counts {manifest['counts']} != {want}")
        b.check(out[0] == len(oracle.rows), f"archive items {out[0]} != {len(oracle.rows)}")
        if i == "warm-up" or traced:  # full content check, outside the timed region
            got = canonical_hash(tuple(r.values()) for r in read_store(store).to_pylist())
            b.check(got == canonical_hash(oracle.rows), "store content != oracle")
        lookup_archive(b, oracle, mix, archive, traced)
    except Exception:
        b.error(f"build iteration {i}")
    shutil.rmtree(store, ignore_errors=True)
    if os.path.exists(archive):
        os.remove(archive)
    b.log(f"build {i} done")
    return out


def lookup_archive(b: Bench, oracle: Oracle, mix: KeyMix, archive: str, traced: bool) -> None:
    """One closed-loop client's as-of point lookups on the archive just
    exported, for ``ARCHIVE_LOOKUP_S`` and at least
    ``archive_lookups_per_build`` of them; accounts and slots alternate."""
    deadline = time.perf_counter() + ARCHIVE_LOOKUP_S
    j = 0
    while time.perf_counter() < deadline or j < b.sizes.archive_lookups_per_build:
        key, block = mix.draw(storage=j % 2 == 1)
        dt, item = timed(b, "archive lookup", ref_lookup, b, archive, key, block, traced)
        if dt is not None:
            b.secondary.append((traced, dt))
            check_ref(b, oracle, key, block, item)
        j += 1
    window = [t for _, t in b.secondary[-j:]]
    b.log(f"{j} archive lookups, p50 {percentile(window, 50) * 1e3:.3f} ms, "
          f"p90 {percentile(window, 90) * 1e3:.3f} ms")


# --------------------------------------------------------------- lookups


def check_ref(b: Bench, oracle: Oracle, key, block, item) -> None:
    exp = oracle.as_of(key, block)
    if key[1] == 0:
        got = None if item is None else (item.block, item.nonce, item.balance, item.incarnation, item.code_hash)
        want = None if exp is None else (exp[4], exp[5], exp[6], exp[2], exp[7])
    else:
        got = None if item is None else (item.block, item.value)
        want = None if exp is None else (exp[4], exp[8])
    b.check(got == want, f"archive lookup {key[0].hex()} kind={key[1]} @ {block}: {got} != {want}")


def check_store(b: Bench, oracle: Oracle, key, block, rows) -> None:
    exp = oracle.as_of(key, block)
    if key[1] == 0:
        got = [(r.block_from, r.nonce, bytes(r.balance), r.incarnation, bytes(r.code_hash)) for r in rows]
        want = [] if exp is None else [(exp[4], exp[5], exp[6], exp[2], exp[7])]
    else:
        got = [(r.block_from, bytes(r.value)) for r in rows if r.incarnation == key[2]]
        want = [] if exp is None else [(exp[4], exp[8])]
    b.check(got == want, f"store lookup {key[0].hex()} kind={key[1]} @ {block}: {got} != {want}")


def ref_lookup(b: Bench, archive: str, key, block, traced: bool):
    addr, kind, inc, slot = key
    kw = {"slot": slot, "incarnation": inc} if kind == 1 else {}
    if not traced:
        return rs.point_lookup(archive, addr, block, **kw)[0]
    with b.span("codec.refstream.point_lookup", spark=False) as sp:
        item, stats = rs.point_lookup(archive, addr, block, **kw)
        sp["counts"].update(
            page_probes=stats["page_probes"],
            pages_decoded=stats["pages_fully_decoded"],
            bytes_read=stats["bytes_read"],
        )
    return item


def store_lookup(b: Bench, store_df, key, block, traced: bool):
    addr, kind, _inc, slot = key
    if kind == 0:
        q = account_state_at(store_df, block, addr)
    else:
        q = storage_state_at(store_df, block, addr, slot)
    if not traced:
        return q.collect()
    with b.span("plans.state.lookup"):
        return q.collect()


def timed(b: Bench, what: str, fn, *args):
    """(seconds, result) of one operation; (None, None) if it raised."""
    t0 = time.perf_counter()
    try:
        out = fn(*args)
    except Exception:
        b.error(what)
        return None, None
    return time.perf_counter() - t0, out


# ------------------------------------------------------------- increment


def decoded_span(tables: PipelineTables, lo: int | None, hi: int | None):
    """Decoded (and code-hash-recovered) changesets for blocks in (lo, hi]."""
    start = None if lo is None else lo + 1
    acct = recover_code_hashes(
        decode_account_changesets(tables.account_changesets, start, hi).drop("decode_error"),
        tables.plain_code_hash,
    )
    stor = decode_storage_changesets(tables.storage_changesets, start, hi).drop("decode_error")
    return acct, stor


def append(b: Bench, tables, tip_a, tip_s, segments, lo, hi, tip, out, traced) -> None:
    """One append: snapshot at ``hi`` (derived, or the real tip snapshot
    on the last append), seam check, delta, sorted-segment write."""
    spark = b.spark
    a_new, s_new = decoded_span(tables, lo, hi)
    if traced:
        with b.span("functions.decode") as sp:
            a_new, s_new = a_new.persist(), s_new.persist()
            sp["counts"]["rows"] = a_new.count() + s_new.count()
    with b.span("plans.incremental.derive_snapshot") if traced else nullcontext():
        if hi == tip:
            tomb = zero_tombstones(s_new, tip_s, tip)
            psa, pss = tip_a, tip_s.unionByName(tomb.select(*tip_s.columns))
        else:
            # the changeset feed after the batch, and the tip snapshot
            a_later, s_later = decoded_span(tables, hi, None)
            psa, pss = derive_snapshot_at(
                a_later, s_later, tip_a, tip_s, hi,
                touched_accounts=a_new, touched_storage=s_new,
            )
        if traced:
            psa, pss = psa.persist(), pss.persist()
            psa.count(), pss.count()
    store = spark.read.parquet(*segments)
    with b.span("plans.incremental.seam_check") if traced else nullcontext():
        bad = seam_violations(store, a_new, s_new).limit(5).collect()
    b.check(not bad, f"seam violations before append ({lo}, {hi}]: {bad}")
    delta = incremental_history_delta(store, a_new, s_new, psa, pss)
    if traced:
        with b.span("plans.transpose"):
            delta = delta.persist()
            delta.count()
        with b.span("sources.tables.write") as sp:
            write_sorted_parquet(delta, out, sort_cols=STATE_HISTORY_KEY, num_partitions=b.nproc)
            sp["counts"]["bytes"], sp["counts"]["files"] = dir_bytes(out)
        for f in (a_new, s_new, psa, pss, delta):
            f.unpersist()
    else:
        write_sorted_parquet(delta, out, sort_cols=STATE_HISTORY_KEY, num_partitions=b.nproc)


def touched_keys(fx, lo: int, hi: int) -> list[tuple]:
    keys = {account_key(a) for blk, a, _ in fx.account_changesets if lo < blk <= hi}
    keys |= {
        storage_key(a, inc, blob[:32])
        for blk, a, inc, blob in fx.storage_changesets
        if lo < blk <= hi
    }
    return sorted(keys)


def run_increment(b: Bench) -> None:
    fx, paths = prepare(b, b.sizes.increment_addresses, "increment")
    oracle = Oracle.for_fixtures(fx, tombstones=True)
    spark = b.spark
    tables = read_tables(spark, paths)
    ps_a, ps_s = split_plain_state(tables.plain_state)
    tip_a = recover_code_hashes(
        decode_account_changesets(ps_a).drop("decode_error"), tables.plain_code_hash
    )
    tip_s = decode_storage_changesets(ps_s).drop("decode_error")
    tip = fx.latest_block
    base_at = tip // 2
    k = b.sizes.appends
    bounds = [base_at + (tip - base_at) * j // k for j in range(k + 1)]

    # base store at tip/2 (also the process's warm-up)
    acct_all, stor_all = decoded_span(tables, None, None)
    a_old, s_old = decoded_span(tables, None, base_at)
    psa0, pss0 = derive_snapshot_at(
        acct_all, stor_all, tip_a, tip_s, base_at,
        touched_accounts=a_old, touched_storage=s_old,
    )
    segments = [os.path.join(b.work, "seg000")]
    base = build_state_history(a_old, s_old, psa0, pss0, num_partitions=b.nproc)
    write_sorted_parquet(base, segments[0], sort_cols=STATE_HISTORY_KEY, num_partitions=b.nproc)

    b.log("base store written")
    rng = random.Random(b.seed * 7919 + 2)
    delta_rows = 0
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        # trace the first append: the last one takes the real tip snapshot,
        # so only the others run derive_snapshot_at
        traced = b.traced_op(i + 1)
        out = os.path.join(b.work, f"seg{i + 1:03d}")
        t0 = time.perf_counter()
        try:
            if traced:
                with b.span("bench.op"):
                    append(b, tables, tip_a, tip_s, segments, lo, hi, tip, out, True)
            else:
                append(b, tables, tip_a, tip_s, segments, lo, hi, tip, out, False)
        except Exception:
            b.error(f"append ({lo}, {hi}]")
            continue
        b.primary.append((traced, time.perf_counter() - t0))
        segments.append(out)
        delta_rows += read_store(out).num_rows
        store_df = spark.read.parquet(*segments)
        for j, key in enumerate(rng.sample(touched_keys(fx, lo, hi), b.sizes.fresh_per_append)):
            block = rng.randint(lo + 1, hi)
            lookup_traced = b.traced_op(j)
            dt, rows = timed(b, "fresh lookup", store_lookup, b, store_df, key, block, lookup_traced)
            if dt is not None:
                b.secondary.append((lookup_traced, dt))
                check_store(b, oracle, key, block, rows)
        b.log(f"append {i} and its lookups done")

    # after the chain, outside the timed region: segmented store == full
    # rebuild over the same inputs == oracle (order-independent hashes)
    full_dir = os.path.join(b.work, "full")
    tomb = zero_tombstones(stor_all, tip_s, tip)
    full = build_state_history(
        acct_all, stor_all, tip_a, tip_s.unionByName(tomb.select(*tip_s.columns)),
        num_partitions=b.nproc,
    )
    write_sorted_parquet(full, full_dir, sort_cols=STATE_HISTORY_KEY, num_partitions=b.nproc)
    segmented = read_store(*segments)
    got = canonical_hash(tuple(r.values()) for r in segmented.to_pylist())
    rebuilt = canonical_hash(tuple(r.values()) for r in read_store(full_dir).to_pylist())
    b.check(got == rebuilt, "segmented store != full rebuild")
    b.check(got == canonical_hash(oracle.rows), "segmented store != oracle")
    b.per_layer["delta_rows"] = delta_rows
    b.per_layer["bytes_per_row"] = sum(dir_bytes(s)[0] for s in segments) / segmented.num_rows
    b.per_layer["segments"] = len(segments)
    b.log("chain checked against a full rebuild")


WORKLOADS = {"build": run_build, "increment": run_increment}


def rank(n: int, pct: int) -> int:
    """1-based nearest rank of the ``pct``-th percentile of ``n`` samples."""
    return max(1, -(-n * pct // 100))


def percentile(values: list[float], pct: int) -> float:
    """The ``pct``-th percentile (nearest rank)."""
    return sorted(values)[rank(len(values), pct) - 1]


def mid(values: list[float]) -> float:
    """p90 when at least ten samples lie beyond it, else the median: on
    sub-millisecond operations the host's speed swings move the median of
    a run far more than its p90 (README.md, Steadiness)."""
    if len(values) - rank(len(values), 90) >= 10:
        return percentile(values, 90)
    return statistics.median(values)


def tail(values: list[float]) -> float:
    """The highest of p99/p90/p75 (nearest rank) that leaves at least ten
    samples beyond it; the maximum when there are fewer than 40 samples."""
    v = sorted(values)
    for pct in (99, 90, 75):
        if len(v) - rank(len(v), pct) >= 10:
            return v[rank(len(v), pct) - 1]
    return v[-1]
