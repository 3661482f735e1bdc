"""Seeded benchmark inputs and the oracle every answer is checked against.

The program under test receives only the Erigon-encoded Parquet tables
written here (fieldset account blobs, packed storage blobs, PlainState rows
discriminated by key length, code hashes elided from history rows and
recoverable through PlainCodeHash). The oracle is
``fixtures.expected_state_history`` for the same seed, indexed per key.
"""

from __future__ import annotations

import bisect
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from erigon_extract_spark import fixtures as fxmod

RAW_TABLES = (
    "sync_stage",
    "account_changesets",
    "storage_changesets",
    "plain_state",
    "plain_code_hash",
)

_I64, _BIN = pa.int64(), pa.binary()
_LAYOUT = {
    "sync_stage": (["stage_name", "block"], [pa.string(), _I64]),
    "account_changesets": (["block", "address", "account_blob"], [_I64, _BIN, _BIN]),
    "storage_changesets": (
        ["block", "address", "incarnation", "storage_blob"],
        [_I64, _BIN, _I64, _BIN],
    ),
    "plain_state": (["key", "value", "block"], [_BIN, _BIN, _I64]),
    "plain_code_hash": (["address", "incarnation", "code_hash"], [_BIN, _I64, _BIN]),
}

ZERO32 = bytes(32)


def generate(seed: int, n_addresses: int, n_blocks: int, hot: int) -> fxmod.Fixtures:
    """The workload's chain: ``n_addresses`` accounts (a third of them
    contracts with storage), ``hot`` of them hot contracts with many more
    versions, changes spread uniformly over ``n_blocks`` blocks."""
    return fxmod.generate(
        seed=seed,
        n_addresses=n_addresses,
        n_blocks=n_blocks,
        n_body_blocks=0,
        hot_addresses=hot,
    )


def write_tables(fx: fxmod.Fixtures, out_dir: str) -> dict[str, str]:
    """Write the raw tables as Parquet; returns table name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in RAW_TABLES:
        names, types = _LAYOUT[name]
        rows = getattr(fx, name)
        cols = list(zip(*rows)) if rows else [[] for _ in names]
        table = pa.table(
            {n: pa.array(list(c), type=t) for n, c, t in zip(names, cols, types)}
        )
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        paths[name] = path
    return paths


def account_key(address: bytes) -> tuple:
    return (address, 0, 0, b"")


def storage_key(address: bytes, incarnation: int, slot: bytes) -> tuple:
    return (address, 1, incarnation, slot)


class Oracle:
    """Expected state history, indexed by version key for as-of answers.

    Rows are shaped like ``schemas.STATE_HISTORY``. The version key of an
    account is its address (incarnation is payload); of a storage slot it
    is (address, incarnation, slot) — the reference comparator's grouping.
    """

    def __init__(self, rows: list[tuple]):
        self.rows = rows
        self.counts = {0: 0, 1: 0}
        versions: dict[tuple, list[tuple[int, tuple]]] = {}
        for r in rows:
            addr, kind, inc, slot, block_from = r[:5]
            self.counts[kind] += 1
            key = account_key(addr) if kind == 0 else storage_key(addr, inc, slot)
            versions.setdefault(key, []).append((block_from, r))
        self._blocks = {}
        self._rows = {}
        for key, vs in versions.items():
            vs.sort(key=lambda v: v[0])
            self._blocks[key] = [b for b, _ in vs]
            self._rows[key] = [r for _, r in vs]

    @classmethod
    def for_fixtures(cls, fx: fxmod.Fixtures, tombstones: bool = False) -> Oracle:
        """``tombstones`` adds the explicit zero version the incremental
        store carries for storage keys absent from the tip snapshot: the
        tip snapshot row re-keys to the key's last changeset block."""
        rows = fxmod.expected_state_history(fx)
        if tombstones:
            alive = {
                (key[:20], int.from_bytes(key[20:], "big"), value[:32])
                for key, value, _ in fx.plain_state
                if len(key) == 28
            }
            last = {}
            for blk, addr, inc, blob in fx.storage_changesets:
                k = (addr, inc, blob[:32])
                last[k] = max(last.get(k, -1), blk)
            for (addr, inc, slot), blk in last.items():
                if (addr, inc, slot) not in alive:
                    rows.append((addr, 1, inc, slot, blk, None, None, None, ZERO32))
        return cls(rows)

    @property
    def keys(self) -> list[tuple]:
        return list(self._blocks)

    def as_of(self, key: tuple, block: int) -> tuple | None:
        """The version with the greatest block_from <= block, or None."""
        blocks = self._blocks.get(key)
        if blocks is None:
            return None
        i = bisect.bisect_right(blocks, block) - 1
        return self._rows[key][i] if i >= 0 else None


def canonical_hash(rows) -> int:
    """Order-independent digest of state-history rows (a sum of per-row
    hashes, so duplicates count) — compares two stores without sorting."""
    acc = 0
    for r in rows:
        row = tuple(bytes(v) if isinstance(v, (bytearray, memoryview)) else v for v in r)
        acc = (acc + hash(row)) & ((1 << 64) - 1)
    return acc


class KeyMix:
    """Seeded closed-loop query mix: skewed key popularity (Zipf-like
    weights over a seeded shuffle of the keys), blocks uniform over the
    history, and a fixed share of misses (unknown address, or an unknown
    slot of a known contract). The skew is mild on purpose: with a steep
    one the few hottest keys, and so the seed, decide the median."""

    def __init__(self, rng: random.Random, keys: list[tuple], latest: int,
                 miss_share: float = 0.1, skew: float = 0.5):
        self.rng = rng
        self.latest = latest
        self.miss_share = miss_share
        self.accounts = [k for k in keys if k[1] == 0]
        self.storage = [k for k in keys if k[1] == 1]
        rng.shuffle(self.accounts)
        rng.shuffle(self.storage)
        self._cw_a = self._cum_weights(len(self.accounts), skew)
        self._cw_s = self._cum_weights(len(self.storage), skew)

    @staticmethod
    def _cum_weights(n: int, skew: float) -> list[float]:
        out, acc = [], 0.0
        for rank in range(n):
            acc += 1.0 / (rank + 1) ** skew
            out.append(acc)
        return out

    def draw(self, storage: bool) -> tuple[tuple, int]:
        """A (version key, block) query."""
        block = self.rng.randint(0, self.latest + 1)
        if self.rng.random() < self.miss_share:
            if storage:
                addr = self.rng.choice(self.storage)[0]
                return storage_key(addr, 1, self.rng.randbytes(32)), block
            return account_key(self.rng.randbytes(20)), block
        if storage:
            return self.rng.choices(self.storage, cum_weights=self._cw_s)[0], block
        return self.rng.choices(self.accounts, cum_weights=self._cw_a)[0], block
