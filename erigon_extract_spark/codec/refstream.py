"""Byte-exact reader/writer for the REFERENCE's encoded stream dialect.

The engine's own columnar sink is Parquet (codec/opstream.py covers the
capability-parity SPST1 stream); this module exists for FORMAT FIDELITY: a
user holding archives written by the reference binary can decode them here,
and files this writer produces are byte-identical to what the reference's
writer emits for the same item stream.

Dialect (reference erigon_extract.c):
- opcode dispatch (read_item, erigon_extract.c:1340-1428):
    0         page padding — reset reader state (restart page)
    1..8      block number, 1..8 big-endian bytes (delta when strategy>=1)
    9         address, 20 raw bytes (resets per-address state)
    10..73    account + 6 flag bits (write/read_account, 824-1106)
    74..249   storage + flag bits (write/read_storage, 1108-1325)
    250       incarnation escape, u64 payload (929-996, 1184-1189)
    251..255  inline block delta 0..4 (write_block_number, 690-716)
- number codec (write_number/read_number, 596-632): all-zero -> 0x00;
  single trailing byte < 224 -> that byte; else 223+len prefix + payload.
- delta/sum carry a built-in minus-one (delta/sum, 666-688), and balances/
  values invert when the top bit is set so deltas stay short (invert path,
  893-896, 1244-1247).
- storage slots choose the SHORTER of absolute vs delta encoding
  (choose-shorter, 1195-1227 — the measured 30.6% win; SURVEY W5).
- strategy 0 writes block-major absolute values (extract outputs,
  1520/1687/1816 and the merged full-history file, 2328); strategy 1
  writes address-major with per-address resets (transpose files, 2235).
- the merged file carries a 256-byte little-endian u64[32] header
  (write_header, 2266-2288) and 4 KiB restart pages (page_shift=12,
  2329; write_check_page_boundary, 802-822): an entry that would cross a
  page boundary is replaced by zero padding and re-encoded from fresh
  state, so every page decodes independently — that is the parallel-read
  hook ``page_tasks`` exposes for Spark.

The header words[6] double-assignment (account count overwritten by the
storage count, 2281-2282) is a DEFECT of the reference format; this writer
reproduces it for byte-exactness (the file IS the format), while the
engine's own manifests fix it (sources/tables.py). ``decode_header``
surfaces both interpretations.
"""

from __future__ import annotations

import mmap
import os
import struct
import threading
from collections import OrderedDict
from collections.abc import Iterable, Iterator

CODE_PAGE_PADDING = 0
CODE_BLOCK_NUMBER = 1
CODE_ADDRESS = 9
CODE_ACCOUNT = 10
CODE_STORAGE = 74
CODE_INCARNATION = 250
CODE_BLOCK_INLINE = 251

ADDRESS_LEN = 20
HASH_LEN = 32
SLOT_LEN = 32
VALUE_LEN = 32
BALANCE_LEN = 32

HEADER_MAGIC = 202202111
HEADER_SIZE = 256

_Z32 = bytes(32)
EMPTY_CODE_HASH = bytes.fromhex(
    "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
)

_M64 = (1 << 64) - 1
_M256 = (1 << 256) - 1


def _wnumber(out: bytearray, b: bytes) -> None:
    """write_number (erigon_extract.c:596-613)."""
    i = 0
    n = len(b)
    while i < n and b[i] == 0:
        i += 1
    if i == n:
        out.append(0)
    elif i + 1 == n and b[i] < 224:
        out.append(b[i])
    else:
        out.append((n - i) + 223)
        out += b[i:]


def _delta_minus1(value: bytes, acc: bytes) -> bytes:
    """delta() (erigon_extract.c:666-674): value - acc - 1 mod 2^len."""
    n = len(value)
    return (
        (int.from_bytes(value, "big") - int.from_bytes(acc, "big") - 1) & ((1 << (8 * n)) - 1)
    ).to_bytes(n, "big")


def _sum_plus1(delta: bytes, acc: bytes) -> bytes:
    """sum() (erigon_extract.c:676-682): delta + acc + 1 mod 2^len."""
    n = len(delta)
    return (
        (int.from_bytes(delta, "big") + int.from_bytes(acc, "big") + 1) & ((1 << (8 * n)) - 1)
    ).to_bytes(n, "big")


def _invert(b: bytes) -> bytes:
    return bytes(x ^ 0xFF for x in b)


class AccountItem:
    __slots__ = ("block", "address", "nonce", "balance", "incarnation", "code_hash")
    is_storage = False

    def __init__(self, block, address, nonce, balance, incarnation, code_hash):
        self.block = block
        self.address = address
        self.nonce = nonce
        self.balance = balance
        self.incarnation = incarnation
        self.code_hash = code_hash

    def astuple(self):
        return (False, self.block, self.address, self.nonce, self.balance,
                self.incarnation, self.code_hash, None, None)


class StorageItem:
    __slots__ = ("block", "address", "incarnation", "slot", "value")
    is_storage = True

    def __init__(self, block, address, incarnation, slot, value):
        self.block = block
        self.address = address
        self.incarnation = incarnation
        self.slot = slot
        self.value = value

    def astuple(self):
        return (True, self.block, self.address, None, None,
                self.incarnation, None, self.slot, self.value)


class RefWriter:
    """Replicates struct Writer + write_account/write_storage byte-for-byte.

    ``page_shift`` > 0 turns on restart pages (the merged-file layout);
    ``base_offset`` is where this stream starts in the file (256 when a
    header precedes it), because page boundaries are ABSOLUTE file offsets.
    """

    def __init__(self, strategy: int = 0, page_shift: int = 0, base_offset: int = 0):
        self.strategy = strategy
        self.page_shift = page_shift
        self.base_offset = base_offset
        self.buf = bytearray()
        self.count_accounts = 0
        self.count_storage_slots = 0
        self._state_init()

    # --- state (writer_state_init, erigon_extract.c:551-561) ---
    def _state_init(self) -> None:
        self.block = 0
        self.nonce = 0
        self.account_incarnation = 0
        self.storage_incarnation = 0
        self.address = bytes(ADDRESS_LEN)
        self.balance = _Z32
        self.code_hash = _Z32
        self.storage_slot = _Z32

    def _tell(self) -> int:
        return self.base_offset + len(self.buf)

    def _write_u64(self, value: int) -> None:
        _wnumber(self.buf, value.to_bytes(8, "big"))

    def _write_block_number(self, block: int) -> None:
        # erigon_extract.c:690-716
        if block == self.block:
            return
        delta_block = (block - self.block) & _M64
        if self.strategy == 0:
            delta_block = block
        self.block = block
        b = delta_block.to_bytes(8, "big")
        i = 0
        while i < 7 and b[i] == 0:
            i += 1
        if i == 7 and b[7] <= 4 and self.strategy >= 1:
            self.buf.append(CODE_BLOCK_INLINE + b[7])
        else:
            self.buf.append(CODE_BLOCK_NUMBER + (7 - i))
            self.buf += b[i:]

    def _write_address(self, address: bytes) -> None:
        # erigon_extract.c:737-760
        if address == self.address:
            return
        self.buf.append(CODE_ADDRESS)
        self.buf += address
        self.address = address
        self.account_incarnation = 0
        self.storage_incarnation = 0
        if self.strategy >= 1:
            self.block = 0
            self.nonce = 0
            self.balance = _Z32
            self.code_hash = _Z32

    def _write_block_and_address(self, block: int, address: bytes) -> None:
        # erigon_extract.c:786-796: address first under strategy>=1 so all
        # block deltas work, including the first per address
        if self.strategy == 0:
            self._write_block_number(block)
            self._write_address(address)
        else:
            self._write_address(address)
            self._write_block_number(block)

    def _check_page_boundary(self, entry_start: int) -> bool:
        # erigon_extract.c:802-822: on crossing, rewind, pad to boundary,
        # reset state, signal re-encode
        if self.page_shift == 0:
            return False
        if ((entry_start ^ self._tell()) >> self.page_shift) == 0:
            return False
        del self.buf[entry_start - self.base_offset :]
        mask = (1 << self.page_shift) - 1
        while (self.base_offset + len(self.buf)) & mask != 0:
            self.buf.append(CODE_PAGE_PADDING)
        self._state_init()
        return True

    def write_account(self, item: AccountItem) -> None:
        # erigon_extract.c:824-1027
        self.count_accounts += 1
        while True:
            entry_start = self._tell()
            self._write_block_and_address(item.block, item.address)
            flags = 0

            encoded_code_hash = item.code_hash
            is_zero_code_hash = item.code_hash in (_Z32, EMPTY_CODE_HASH)
            if is_zero_code_hash:
                encoded_code_hash = _Z32
            if not is_zero_code_hash and item.incarnation == 0:
                raise ValueError(
                    "account with non-zero codeHash and zero incarnation"
                )

            if self.strategy == 0:
                encoded_nonce = item.nonce
                encoded_incarnation = item.incarnation
            else:
                encoded_nonce = (item.nonce - self.nonce) & _M64
                if self.strategy == 3 and is_zero_code_hash:
                    encoded_incarnation = item.incarnation
                else:
                    encoded_incarnation = (
                        item.incarnation - self.account_incarnation
                    ) & _M64

            if self.strategy == 0:
                encoded_balance = item.balance
            else:
                encoded_balance = _delta_minus1(item.balance, self.balance)
                if encoded_balance[0] >= 0x80:
                    encoded_balance = _invert(encoded_balance)
                    flags |= 1 << 5
            if encoded_balance != _Z32:
                flags |= 1 << 0

            if self.strategy == 0:
                if not is_zero_code_hash:
                    flags |= 1 << 1
            elif self.code_hash != encoded_code_hash:
                flags |= 1 << 1

            if self.strategy == 2:
                # The reference's zero-balance branch (erigon_extract.c:
                # 962-965) tests `account->balance == 0` — an array-decay
                # pointer compare that is ALWAYS false, so the branch is
                # dead; replicated by omission for byte-exactness.
                if encoded_nonce >= 1:
                    flags |= 1 << 2
            else:
                if encoded_nonce >= 3:
                    flags |= 3 << 2
                else:
                    flags |= encoded_nonce << 2

            if self.strategy == 0:
                if encoded_incarnation >= 3:
                    flags |= 3 << 4
                else:
                    flags |= encoded_incarnation << 4
            else:
                if encoded_incarnation == 1:
                    flags |= 1 << 4
                elif encoded_incarnation != 0:
                    self.buf.append(CODE_INCARNATION)
                    self._write_u64(encoded_incarnation)

            self.buf.append(CODE_ACCOUNT + flags)
            if flags & (1 << 0):
                _wnumber(self.buf, encoded_balance)
            if flags & (1 << 1):
                self.buf += encoded_code_hash
            if self.strategy == 2:
                if flags & (1 << 2):
                    self._write_u64(encoded_nonce)
            elif (flags & (3 << 2)) == (3 << 2):
                self._write_u64(encoded_nonce)
            if self.strategy == 0 and (flags & (3 << 4)) == (3 << 4):
                self._write_u64(encoded_incarnation)

            self.nonce = item.nonce
            self.account_incarnation = item.incarnation
            self.storage_incarnation = item.incarnation
            self.balance = item.balance
            # the TRUE hash, not the zero-normalized encoding (c.f. 1019)
            self.code_hash = item.code_hash

            if not self._check_page_boundary(entry_start):
                return

    def write_storage(self, item: StorageItem) -> None:
        # erigon_extract.c:1108-1269
        self.count_storage_slots += 1
        while True:
            entry_start = self._tell()
            self._write_block_and_address(item.block, item.address)
            flags = 0

            if item.incarnation == 0:
                raise ValueError("storage with zero incarnation")

            base_incarnation = self.storage_incarnation or 1
            if item.incarnation != base_incarnation:
                encoded_incarnation = (item.incarnation - base_incarnation) & _M64
                self.storage_incarnation = item.incarnation
                self.buf.append(CODE_INCARNATION)
                self._write_u64(encoded_incarnation)

            is_new_slot = item.slot != self.storage_slot
            delta_slot = _delta_minus1(item.slot, self.storage_slot)
            self.storage_slot = item.slot

            slot_bytes = self._number_cost(item.slot)
            delta_bytes = self._number_cost(delta_slot)
            encoded_slot = item.slot
            if delta_bytes < slot_bytes:
                encoded_slot = delta_slot
                slot_bytes = delta_bytes
                flags |= 1 << 3

            if slot_bytes == 1 and encoded_slot[SLOT_LEN - 1] < 9:
                flags |= encoded_slot[SLOT_LEN - 1] << 4
            elif slot_bytes < 33:
                flags |= 9 << 4
            else:
                flags |= 10 << 4

            encoded_value = item.value
            if encoded_value[0] <= 0x7F:
                vb = VALUE_LEN
                while vb > 0 and encoded_value[VALUE_LEN - vb] == 0:
                    vb -= 1
                if vb <= 1 and encoded_value[VALUE_LEN - 1] < 6:
                    flags |= encoded_value[VALUE_LEN - 1]
                else:
                    flags |= 6
            else:
                encoded_value = _invert(encoded_value)
                flags |= 7

            self.buf.append(CODE_STORAGE + flags)
            if (flags >> 4) == 9:
                _wnumber(self.buf, encoded_slot)
            elif (flags >> 4) == 10:
                self.buf += encoded_slot
            if (flags & 7) >= 6:
                _wnumber(self.buf, encoded_value)

            if self.strategy >= 3 and is_new_slot:
                self.block = 0

            if not self._check_page_boundary(entry_start):
                return

    @staticmethod
    def _number_cost(b: bytes) -> int:
        """Encoded size of write_number(b) in bytes (erigon_extract.c:
        1196-1206): significant length, +1 for the prefix unless the value
        is a single trailing byte < 224."""
        n = len(b)
        sig = n
        while sig > 0 and b[n - sig] == 0:
            sig -= 1
        if sig != 1 or b[n - 1] >= 224:
            sig += 1
        return sig

    def write_item(self, item) -> None:
        if item.is_storage:
            self.write_storage(item)
        else:
            self.write_account(item)

    def getvalue(self) -> bytes:
        return bytes(self.buf)


def encode_items(
    items: Iterable,
    strategy: int = 0,
    page_shift: int = 0,
    base_offset: int = 0,
) -> bytes:
    w = RefWriter(strategy, page_shift, base_offset)
    for it in items:
        w.write_item(it)
    return w.getvalue()


def encode_full_history_file(
    items: Iterable, block_start: int, block_end: int
) -> bytes:
    """The merged full-history FILE layout (merge_files output,
    erigon_extract.c:2328-2449): 256-byte header + strategy-0 stream with
    4 KiB restart pages, header rewritten with end-of-states and counts."""
    w = RefWriter(strategy=0, page_shift=12, base_offset=HEADER_SIZE)
    for it in items:
        w.write_item(it)
    body = w.getvalue()
    end_of_states = HEADER_SIZE + len(body)
    words = [0] * 32
    words[0] = HEADER_MAGIC
    words[1] = end_of_states
    words[2] = HEADER_SIZE
    words[3] = 12
    words[4] = block_start
    words[5] = block_end
    # words[6] carries the storage count — replicating the reference's
    # double assignment (2281-2282) for byte-exactness; decode_header
    # exposes the defect.
    words[6] = w.count_storage_slots
    return struct.pack("<32Q", *words) + body


def decode_header(data: bytes) -> dict:
    words = struct.unpack_from("<32Q", data, 0)
    if words[0] != HEADER_MAGIC:
        raise ValueError(f"bad header magic {words[0]}")
    return {
        "end_of_states": words[1],
        "header_size": words[2],
        "page_shift": words[3],
        "block_start": words[4],
        "block_end": words[5],
        # the reference overwrote the account count with the storage count
        "count_defective_words6": words[6],
    }


def checked_header(head: bytes, size: int, source: str = "archive") -> dict:
    """The header of a merged full-history file of ``size`` bytes that
    begins with ``head``, after the checks every merged-layout reader makes
    before it decodes: the file holds a whole header, the magic matches,
    and end_of_states is not past the file's end (a truncated archive, which
    would otherwise decode its remaining pages as if they were all).
    Raises ``ValueError`` naming ``source`` and the defect."""
    if len(head) < HEADER_SIZE:
        raise ValueError(
            f"{source}: {len(head)} bytes, shorter than the "
            f"{HEADER_SIZE}-byte archive header"
        )
    try:
        hdr = decode_header(head)
    except ValueError as e:
        raise ValueError(f"{source}: {e}") from None
    if hdr["end_of_states"] > size:
        raise ValueError(
            f"{source}: truncated archive: header end_of_states "
            f"{hdr['end_of_states']} is past the file size {size}"
        )
    return hdr


class _Cursor:
    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes, pos: int, end: int):
        self.data = data
        self.pos = pos
        self.end = end

    def u8(self) -> int:
        if self.pos >= self.end:
            raise ValueError(f"truncated stream at offset {self.pos}")
        b = self.data[self.pos]
        self.pos += 1
        return b

    def take(self, n: int) -> bytes:
        if self.pos + n > self.end:
            raise ValueError(f"truncated stream at offset {self.pos}")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out


class RefReader:
    """Replicates struct Reader + read_item (erigon_extract.c:1340-1428)."""

    def __init__(self, strategy: int = 0, trace=None):
        self.strategy = strategy
        self._significant_prefix = False
        # optional callable(event, value) mirroring the reference's
        # print=true trace in read_item ("(set block=)" / "(set address=)" /
        # "(bytecode_incarnation=)" lines) — used by the CLI show command
        self.trace = trace
        self._state_init()

    def _state_init(self) -> None:
        self.block = 0
        self.nonce = 0
        self.account_incarnation = 0
        self.storage_incarnation = 0
        self.bytecode_incarnation = 0
        self.address = bytes(ADDRESS_LEN)
        self.balance = _Z32
        self.code_hash = _Z32
        self.storage_slot = _Z32

    def _read_number(self, cur: _Cursor, n: int) -> bytes:
        b = cur.u8()
        if b < 224:
            return bytes(n - 1) + bytes([b])
        ln = b - 223
        if ln < n:
            return bytes(n - ln) + cur.take(ln)
        return cur.take(n)

    def _read_u64(self, cur: _Cursor) -> int:
        return int.from_bytes(self._read_number(cur, 8), "big")

    def items(self, data: bytes, start: int = 0, end: int | None = None) -> Iterator:
        """Yield AccountItem/StorageItem from data[start:end].

        End-of-stream is legal only between items or after padding — EOF
        after a consumed block/address/incarnation prefix is a syntax
        error, mirroring the C reader (read_item's "EOF is only ok before
        any codes have been read", erigon_extract.c:1350-1356; padding is
        exempt so page-boundary slices with padded tails stay decodable).
        """
        return self._items(_Cursor(data, start, len(data) if end is None else end))

    def _items(self, cur: _Cursor) -> Iterator:
        """``items`` over a caller-held cursor: after each yield,
        ``cur.pos`` is the offset just past the yielded item."""
        while cur.pos < cur.end:
            self.bytecode_incarnation = 0
            self._significant_prefix = False
            item = self._read_one(cur)
            if item is None:
                if self._significant_prefix:
                    raise ValueError(
                        f"truncated stream: prefix codes without an item "
                        f"ending at offset {cur.pos}"
                    )
                break
            yield item

    def _read_one(self, cur: _Cursor):
        while cur.pos < cur.end:
            b = cur.u8()
            if b == CODE_PAGE_PADDING:
                self._state_init()
                if self.trace:
                    self.trace("padding", None)
                continue
            if b <= CODE_BLOCK_NUMBER + 7:  # 1..8
                self._significant_prefix = True
                self._read_block_number(cur, b)
                if self.trace:
                    self.trace("block", self.block)
                continue
            if b == CODE_ADDRESS:
                self._significant_prefix = True
                self.address = cur.take(ADDRESS_LEN)
                if self.trace:
                    self.trace("address", self.address)
                self.account_incarnation = 0
                self.storage_incarnation = 0
                if self.strategy >= 1:
                    self.block = 0
                    self.nonce = 0
                    self.balance = _Z32
                    self.code_hash = _Z32
                continue
            if b <= CODE_ACCOUNT + 63:  # 10..73
                return self._read_account(cur, b)
            if b <= CODE_STORAGE + 160 + 15:  # 74..249
                return self._read_storage(cur, b)
            if b == CODE_INCARNATION:
                self._significant_prefix = True
                self.bytecode_incarnation = self._read_u64(cur)
                if self.trace:
                    self.trace("incarnation", self.bytecode_incarnation)
                continue
            # 251..255
            self._significant_prefix = True
            self._read_block_number(cur, b)
            if self.trace:
                self.trace("block", self.block)
        return None

    def _read_block_number(self, cur: _Cursor, b: int) -> None:
        if b >= CODE_BLOCK_INLINE:
            encoded = b - CODE_BLOCK_INLINE
        else:
            ln = b - CODE_BLOCK_NUMBER + 1
            encoded = int.from_bytes(cur.take(ln), "big")
        if self.strategy != 0:
            encoded = (encoded + self.block) & _M64
        self.block = encoded

    def _read_account(self, cur: _Cursor, b: int) -> AccountItem:
        flags = b - CODE_ACCOUNT
        if flags & (1 << 0):
            encoded_balance = self._read_number(cur, BALANCE_LEN)
        else:
            encoded_balance = _Z32
        if self.strategy == 0:
            balance = encoded_balance
        else:
            if flags & (1 << 5):
                encoded_balance = _invert(encoded_balance)
            balance = _sum_plus1(encoded_balance, self.balance)

        if flags & (1 << 1):
            code_hash = cur.take(HASH_LEN)
        elif self.strategy == 0:
            code_hash = _Z32
        else:
            code_hash = self.code_hash

        if (flags & (3 << 2)) != (3 << 2):
            encoded_nonce = (flags >> 2) & 3
        else:
            encoded_nonce = self._read_u64(cur)

        if self.strategy == 0:
            if (flags & (3 << 4)) != (3 << 4):
                encoded_incarnation = (flags >> 4) & 3
            else:
                encoded_incarnation = self._read_u64(cur)
            nonce, incarnation = encoded_nonce, encoded_incarnation
        else:
            if flags & (1 << 4):
                encoded_incarnation = 1
            else:
                encoded_incarnation = self.bytecode_incarnation
            nonce = (encoded_nonce + self.nonce) & _M64
            incarnation = (encoded_incarnation + self.account_incarnation) & _M64

        item = AccountItem(self.block, self.address, nonce, balance,
                           incarnation, code_hash)
        self.nonce = nonce
        self.account_incarnation = incarnation
        self.storage_incarnation = incarnation
        self.balance = balance
        self.code_hash = code_hash
        return item

    def _read_storage(self, cur: _Cursor, b: int) -> StorageItem:
        flags = b - CODE_STORAGE
        incarnation = self.storage_incarnation or 1
        if self.bytecode_incarnation != 0:
            incarnation = (incarnation + self.bytecode_incarnation) & _M64

        hi = flags >> 4
        if hi < 9:
            encoded_slot = bytes(SLOT_LEN - 1) + bytes([hi])
        elif hi == 9:
            encoded_slot = self._read_number(cur, SLOT_LEN)
        else:
            encoded_slot = cur.take(SLOT_LEN)

        if flags & (1 << 3):
            slot = _sum_plus1(encoded_slot, self.storage_slot)
            # C's sum() writes the accumulator in place (erigon_extract.c:
            # 676-682), so the is_new_slot memcmp below always sees equal
            # buffers on this path — replicated exactly (the asymmetry only
            # matters for strategy>=3 block resets, which the reference
            # never writes).
            self.storage_slot = slot
        else:
            slot = encoded_slot

        lo = flags & 7
        if lo < 6:
            value = bytes(VALUE_LEN - 1) + bytes([lo])
        else:
            value = self._read_number(cur, VALUE_LEN)
            if flags & 1:
                value = _invert(value)

        is_new_slot = slot != self.storage_slot
        self.storage_incarnation = incarnation
        if self.strategy >= 3 and is_new_slot:
            self.block = 0
        self.storage_slot = slot
        return StorageItem(self.block, self.address, incarnation, slot, value)


def decode_items(data: bytes, strategy: int = 0,
                 start: int = 0, end: int | None = None) -> list:
    return list(RefReader(strategy).items(data, start, end))


def decode_full_history_file(data: bytes) -> tuple[dict, list]:
    hdr = checked_header(data, len(data))
    items = decode_items(
        data, strategy=0, start=hdr["header_size"], end=hdr["end_of_states"]
    )
    return hdr, items


def page_tasks(file_size: int, page_shift: int = 12,
               header_size: int = HEADER_SIZE,
               pages_per_task: int = 256) -> list[tuple[int, int]]:
    """(start, end) byte ranges decodable INDEPENDENTLY: restart pages
    reset all reader state at each page boundary (the writer guarantees no
    entry straddles one), so a 100 TB archive splits into byte-range tasks
    with zero coordination — each Spark task seeks to its range and
    decodes. The first range starts after the header; each range holds
    ``pages_per_task`` of the pages ``merged_page_starts`` lists."""
    starts = _page_starts(_page_layout(header_size, page_shift, file_size))
    ends = starts[pages_per_task::pages_per_task] + [file_size]
    return list(zip(starts[::pages_per_task], ends))


def _page_layout(header: int, page_shift: int,
                 end: int) -> tuple[int, int, int, int]:
    """(page 0 start, page 1 start, page size, page count) of the restart
    pages below ``end``: page 0 is the region after the header, page i >= 1
    starts at the i-th aligned page boundary after the header."""
    page = 1 << (page_shift or 12)
    second = (header // page + 1) * page
    n = 0 if header >= end else 1 + max(0, -(-(end - second) // page))
    return header, second, page, n


def _page_start(layout: tuple[int, int, int, int], i: int) -> int:
    header, second, page, _n = layout
    return header if i == 0 else second + (i - 1) * page


def _page_starts(layout: tuple[int, int, int, int]) -> list[int]:
    return [_page_start(layout, i) for i in range(layout[3])]


def merged_page_starts(hdr: dict, file_size: int) -> list[int]:
    """Byte offsets of the independently-decodable restart pages of a
    merged full-history file, in order: the region after the header, then
    every aligned page boundary up to end_of_states (the same layout
    ``page_tasks`` chunks into scan ranges)."""
    end = min(file_size, hdr["end_of_states"])
    return _page_starts(_page_layout(hdr["header_size"], hdr["page_shift"], end))


def _item_sort_key(it) -> tuple:
    """The merge comparator's total order (erigon_extract.c:2102-2129):
    (address, kind, incarnation-for-storage, slot, block). Accounts sort
    before storage per address; account incarnation is payload, not key."""
    if it.is_storage:
        return (it.address, 1, it.incarnation, it.slot, it.block)
    return (it.address, 0, 0, b"", it.block)


_UNPROBED = object()


class _ArchiveReader:
    """One merged full-history file, opened once: the validated header,
    an mmap of the file, the page layout, and the first-item key ("fence")
    of every page probed so far."""

    def __init__(self, path: str, identity: tuple):
        self.identity = identity
        with open(path, "rb") as f:
            self.hdr = checked_header(f.read(HEADER_SIZE), identity[1], path)
            self.data = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        self.end = self.hdr["end_of_states"]
        self.layout = _page_layout(
            self.hdr["header_size"], self.hdr["page_shift"], self.end
        )
        self.n_pages = self.layout[3]
        self.fences = [_UNPROBED] * self.n_pages

    def page(self, i: int) -> _Cursor:
        """A cursor over page ``i``'s bytes."""
        e = _page_start(self.layout, i + 1) if i + 1 < self.n_pages else self.end
        return _Cursor(self.data, _page_start(self.layout, i), e)

    def fence(self, i: int, stats: dict):
        """Sort key of page ``i``'s first item (None for an empty page),
        decoded on first use only."""
        k = self.fences[i]
        if k is _UNPROBED:
            stats["page_probes"] += 1
            cur = self.page(i)
            start = cur.pos
            it = next(RefReader(0)._items(cur), None)
            stats["bytes_read"] += cur.pos - start
            k = self.fences[i] = None if it is None else _item_sort_key(it)
        return k


# Open readers by path, least recently used first. Small and fixed: each
# holds one file descriptor (its mmap's).
_READERS: OrderedDict[str, _ArchiveReader] = OrderedDict()
_MAX_READERS = 8
_READERS_LOCK = threading.Lock()


def _reader(path: str, stats: dict) -> _ArchiveReader:
    """The cached reader of ``path``, reopened when the file's inode, size
    or mtime changed since it was opened (replaced or rewritten)."""
    st = os.stat(path)
    identity = (st.st_ino, st.st_size, st.st_mtime_ns)
    with _READERS_LOCK:
        r = _READERS.get(path)
        if r is not None and r.identity == identity:
            _READERS.move_to_end(path)
            return r
        _READERS.pop(path, None)
    r = _ArchiveReader(path, identity)
    stats["bytes_read"] += HEADER_SIZE
    with _READERS_LOCK:
        _READERS[path] = r
        # an evicted reader's mmap closes once no lookup holds it any more
        while len(_READERS) > _MAX_READERS:
            _READERS.popitem(last=False)
    return r


def point_lookup(
    path: str,
    address: bytes,
    block: int,
    *,
    slot: bytes | None = None,
    incarnation: int = 0,
):
    """O(log N) as-of point lookup INTO a merged full-history file —
    the reference's headline read path (README.md:37-41: "any account or
    storage can be looked up at any point in block time in O(log N)
    time"; the 4 KiB restart pages at erigon_extract.c:802-822 exist
    precisely so a seek can land mid-file and decode).

    Binary search over restart pages: pages start with a fresh-state entry
    by writer construction, so each page's first item is its fence. The
    search narrows to the single page that contains the greatest key <=
    (address [, incarnation, slot], block) — the merged file is
    address-major, so the as-of version of a key is exactly that greatest
    entry — and decodes that page only up to the first key past the
    target. The file is opened and mmapped once per process (a small
    cache, revalidated by inode, size and mtime on every call) and fences
    are remembered once probed, so a cold search decodes the first item of
    at most ceil(log2(pages)) + 1 pages and a warm one touches at most one
    page.

    Returns ``(item | None, stats)`` — None when the key has no version
    at or before ``block``. ``stats`` counts this call's fence probes
    (``page_probes``), target pages decoded (``pages_fully_decoded``, 0 or
    1; the decode stops past the target) and bytes decoded (plus the
    header when the call opened the file), so tests and the CLI can
    assert the logarithmic bound rather than trust it. Raises ``ValueError`` for a file shorter
    than the header, a bad magic, or an end_of_states past the file's end
    (a truncated archive).

    The engine's own store answers the same query from sorted Parquet and
    row-group min/max stats (plans/state.account_state_at); this is the
    format-fidelity twin for archives living in the reference dialect.
    """
    stats = {"page_probes": 0, "pages_fully_decoded": 0, "bytes_read": 0}
    r = _reader(path, stats)
    stats["pages_total"] = r.n_pages
    kind = 0 if slot is None else 1
    target = (address, kind, incarnation if kind else 0, slot or b"", block)

    lo, hi, best = 0, r.n_pages - 1, None
    while lo <= hi:
        mid = (lo + hi) // 2
        k = r.fence(mid, stats)
        if k is not None and k <= target:
            best, lo = mid, mid + 1
        else:
            hi = mid - 1
    if best is None:
        return None, stats
    stats["pages_fully_decoded"] += 1
    cur = r.page(best)
    start = cur.pos
    found = found_key = None
    for it in RefReader(0)._items(cur):
        k = _item_sort_key(it)
        if k > target:
            break
        found, found_key = it, k
    stats["bytes_read"] += cur.pos - start
    if found is None or found_key[:4] != target[:4]:
        return None, stats  # no version of this key at or before block
    return found, stats


def read_ref_file_df(spark, path: str, strategy: int = 0,
                     pages_per_task: int = 256):
    """Decode a reference-dialect file into a DataFrame of unified items
    (is_storage, block, address, nonce, balance, incarnation, code_hash,
    slot, value).

    For the merged full-history layout (header + restart pages) each Spark
    task decodes an independent page range — the reader state resets at
    every page boundary by format guarantee, so parallelism needs no
    coordination and scales with file size. Headerless strategy-0/1 files
    (the extract/transpose intermediates) are a single sequential stream
    and decode in one task per file; at scale the reference itself shards
    those into one file per 100k-block range, which Spark parallelizes
    across files.

    The header magic, a leading 0 (padding, which the writer emits only
    at restart-page boundaries, never first), or the writer's header_size
    and page_shift words (header words 2-3, so a damaged magic is not read
    as a headerless stream) mark a merged file; its header is checked
    (``checked_header``) before any task is planned.
    """
    import pandas as pd

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        head = f.read(HEADER_SIZE)
    if (
        head[:1] == b"\0"
        or head[:8] == struct.pack("<Q", HEADER_MAGIC)
        or head[16:32] == struct.pack("<2Q", HEADER_SIZE, 12)
    ):
        hdr = checked_header(head, size, path)
        ranges = page_tasks(
            hdr["end_of_states"],
            page_shift=hdr["page_shift"],
            header_size=hdr["header_size"],
            pages_per_task=pages_per_task,
        )
    else:
        ranges = [(0, size)]

    tasks = spark.createDataFrame(
        [(path, s, e) for s, e in ranges], "path string, start long, end long"
    )

    out_schema = (
        "is_storage boolean, block long, address binary, nonce long, "
        "balance binary, incarnation long, code_hash binary, slot binary, "
        "value binary"
    )
    cols = out_schema.replace(" boolean", "").replace(" long", "").replace(
        " binary", ""
    ).replace(" string", "").split(", ")

    def decode_ranges(batches):
        for pdf in batches:
            rows = []
            for p, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                with open(p, "rb") as f:
                    f.seek(int(s))
                    blob = f.read(int(e) - int(s))
                for it in RefReader(strategy).items(blob):
                    rows.append(it.astuple())
            yield pd.DataFrame(rows, columns=cols)

    return tasks.mapInPandas(decode_ranges, out_schema)


def write_ref_files(df, out_dir: str, strategy: int = 1) -> list[dict]:
    """Distributed reference-dialect SINK: each partition of ``df`` (rows in
    the unified item shape: is_storage, block, address, nonce, balance,
    incarnation, code_hash, slot, value) is encoded by ITS OWN task into
    one ``part-<n>.dat`` file under ``out_dir`` — the Spark analogue of the
    reference writing one file per 100k-block job range
    (erigon_extract.c:2534-2543), so encode throughput scales with
    partition count and no item stream ever funnels through the driver.

    The caller controls file boundaries and intra-file order via its own
    repartitionByRange/sortWithinPartitions (matching the reference's
    address-major strategy-1 transpose files or block-major strategy-0
    extracts). Returns the written manifest rows (path, items, bytes).
    """
    import pandas as pd
    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)

    def encode_partition(batches):
        items = []
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                if r.is_storage:
                    items.append(
                        StorageItem(
                            int(r.block), bytes(r.address), int(r.incarnation),
                            bytes(r.slot), bytes(r.value),
                        )
                    )
                else:
                    items.append(
                        AccountItem(
                            int(r.block), bytes(r.address), int(r.nonce),
                            bytes(r.balance), int(r.incarnation),
                            bytes(r.code_hash),
                        )
                    )
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.dat")
        if items:
            blob = encode_items(items, strategy=strategy)
            with open(path, "wb") as f:
                f.write(blob)
            yield pd.DataFrame(
                [{"path": path, "n_items": len(items), "n_bytes": len(blob)}]
            )

    manifest = df.mapInPandas(
        encode_partition, "path string, n_items long, n_bytes long"
    ).collect()
    return [r.asDict() for r in manifest]


def read_ref_dir_df(spark, path_glob: str, strategy: int = 1):
    """Decode a DIRECTORY of reference-dialect files (the reference shards
    its extract/transpose output one file per 100k-block range,
    erigon_extract.c:2534-2543) — one decode task per file via
    ``binaryFile``; same unified item schema as ``read_ref_file_df``.
    Headerless sequential streams only (the sharded intermediates); use
    ``read_ref_file_df`` for the paged merged layout."""
    import pandas as pd

    out_schema = (
        "is_storage boolean, block long, address binary, nonce long, "
        "balance binary, incarnation long, code_hash binary, slot binary, "
        "value binary"
    )
    cols = [f.split()[0] for f in out_schema.split(", ")]

    files = spark.read.format("binaryFile").load(path_glob).select("content")

    def decode_files(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for it in RefReader(strategy).items(bytes(blob)):
                    rows.append(it.astuple())
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(decode_files, out_schema)
