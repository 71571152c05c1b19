"""Pure-Python SQLite table reader — the parser behind the GeoPackage
source.

A GeoPackage is a SQLite database (OGC 12-128r19). Its payloads arrive as
file BYTES from the ``binaryFile`` source, on the driver or in an
executor task (``sources/geopackage``), so this module parses the SQLite
file format (https://www.sqlite.org/fileformat2.html) directly from a
payload: database header, table b-tree traversal (interior/leaf pages),
cell payload overflow chains, and the record serial-type codec. That is
the same pattern as ``sources/shapefile.py``'s .shp/.dbf parse, applied
to the reference's third vector format (``gpd.read_file`` accepts .gpkg,
the reference's ``src/data_preprocessing.py:471-475``).

Scope: rowid table b-trees (every GPKG feature table is one), all five
serial-type families (NULL / big-endian ints / float64 / blob / text),
INTEGER-PRIMARY-KEY rowid aliasing, and multi-page payload overflow.
Not in scope (typed errors): WITHOUT ROWID tables; indexes (table scans
read leaves directly).

WAL rule: only the main database file is parsed. Commits still held in a
write-ahead log are not in it, so the GeoPackage reader raises a typed
error for a non-empty ``-wal`` file beside its input instead of parsing
a stale main file; a cleanly closed WAL-mode database has no log and
parses in full.

Scale contract: one .gpkg file parses in ONE task (SQLite is a
single-file format — exactly like one .shp); a directory of .gpkg tiles
parallelizes at listing time via ``binaryFile``. The traversal is
iterative (explicit stack), so page depth never recurses.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator

_HEADER_MAGIC = b"SQLite format 3\x00"


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    """SQLite varint: 1-9 bytes, big-endian 7-bit groups; the 9th byte
    contributes all 8 bits. Returns (value, next_pos)."""
    result = 0
    for i in range(8):
        b = buf[pos + i]
        result = (result << 7) | (b & 0x7F)
        if not b & 0x80:
            return result, pos + i + 1
    result = (result << 8) | buf[pos + 8]
    return result, pos + 9


class SQLiteFile:
    """Random-access view over a complete SQLite main-file payload."""

    def __init__(self, payload: bytes):
        if payload[:16] != _HEADER_MAGIC:
            raise ValueError("not a SQLite database payload")
        (raw_ps,) = struct.unpack_from(">H", payload, 16)
        self.page_size = 65536 if raw_ps == 1 else raw_ps
        reserved = payload[20]
        self.usable = self.page_size - reserved
        self.payload = payload

    def _page(self, n: int) -> tuple[bytes, int]:
        """Page ``n`` (1-based) → (page bytes, header offset within page:
        100 for page 1, else 0)."""
        start = (n - 1) * self.page_size
        return self.payload[start : start + self.page_size], (
            100 if n == 1 else 0
        )

    def _cell_payload(self, page: bytes, pos: int, payload_len: int) -> bytes:
        """Assemble a cell payload, following the overflow chain when the
        record spills past its page-local share (fileformat2.html §1.6:
        X = U−35, M = ((U−12)·32/255)−23, K = M + (P−M) mod (U−4))."""
        u = self.usable
        x = u - 35
        if payload_len <= x:
            return page[pos : pos + payload_len]
        m = ((u - 12) * 32 // 255) - 23
        k = m + (payload_len - m) % (u - 4)
        local = k if k <= x else m
        parts = [page[pos : pos + local]]
        (nxt,) = struct.unpack_from(">I", page, pos + local)
        remaining = payload_len - local
        while remaining > 0:
            if nxt == 0:
                raise ValueError("corrupt SQLite: broken overflow chain")
            opage, _ = self._page(nxt)
            (nxt,) = struct.unpack_from(">I", opage, 0)
            chunk = opage[4 : 4 + min(remaining, u - 4)]
            parts.append(chunk)
            remaining -= len(chunk)
        return b"".join(parts)

    def table_btree_rows(self, root: int) -> Iterator[tuple[int, list]]:
        """Walk a rowid-table b-tree → ``(rowid, values)`` per row, in
        rowid order. Iterative stack, leaves decoded in place."""
        stack = [root]
        while stack:
            pageno = stack.pop()
            page, hoff = self._page(pageno)
            ptype = page[hoff]
            (ncells,) = struct.unpack_from(">H", page, hoff + 3)
            if ptype == 5:  # interior table page
                (rightmost,) = struct.unpack_from(">I", page, hoff + 8)
                children = []
                cparr = hoff + 12
                for i in range(ncells):
                    (cp,) = struct.unpack_from(">H", page, cparr + 2 * i)
                    (child,) = struct.unpack_from(">I", page, cp)
                    children.append(child)
                # LIFO stack: push rightmost first, then cells reversed,
                # so pops come left-to-right — ascending rowid order
                stack.append(rightmost)
                stack.extend(reversed(children))
                continue
            if ptype != 13:
                raise ValueError(
                    f"unsupported SQLite page type {ptype} in table b-tree "
                    "(WITHOUT ROWID / index pages are out of scope)"
                )
            cparr = hoff + 8
            for i in range(ncells):
                (cp,) = struct.unpack_from(">H", page, cparr + 2 * i)
                plen, p = _varint(page, cp)
                rowid, p = _varint(page, p)
                yield rowid, _decode_record(self._cell_payload(page, p, plen))

    def master_rows(self) -> list[dict]:
        """``sqlite_master`` (root page 1) → list of
        ``{type, name, tbl_name, rootpage, sql}``."""
        out = []
        for _rowid, vals in self.table_btree_rows(1):
            vals = vals + [None] * (5 - len(vals))
            out.append(
                {
                    "type": vals[0],
                    "name": vals[1],
                    "tbl_name": vals[2],
                    "rootpage": vals[3],
                    "sql": vals[4],
                }
            )
        return out


def _decode_record(rec: bytes) -> list:
    """SQLite record format: header-length varint, serial-type varints,
    then the values. Text decodes UTF-8 (GPKG mandates UTF-8 dbs)."""
    hlen, pos = _varint(rec, 0)
    serials = []
    while pos < hlen:
        st, pos = _varint(rec, pos)
        serials.append(st)
    vals: list = []
    body = hlen
    for st in serials:
        if st == 0:
            vals.append(None)
        elif st in (1, 2, 3, 4, 5, 6):
            nbytes = {1: 1, 2: 2, 3: 3, 4: 4, 5: 6, 6: 8}[st]
            v = int.from_bytes(
                rec[body : body + nbytes], "big", signed=True
            )
            vals.append(v)
            body += nbytes
        elif st == 7:
            (v,) = struct.unpack_from(">d", rec, body)
            vals.append(v)
            body += 8
        elif st == 8:
            vals.append(0)
        elif st == 9:
            vals.append(1)
        elif st >= 12 and st % 2 == 0:
            n = (st - 12) // 2
            vals.append(rec[body : body + n])
            body += n
        elif st >= 13:
            n = (st - 13) // 2
            vals.append(rec[body : body + n].decode("utf-8", "replace"))
            body += n
        else:
            raise ValueError(f"reserved SQLite serial type {st}")
    return vals


def _columns_from_create_sql(
    sql: str,
) -> tuple[list[str], int | None, set[int]]:
    """Column names (declaration order), the INTEGER-PRIMARY-KEY column
    index (rowid alias — stored as NULL, read back as the rowid) and the
    REAL-affinity column indexes from a CREATE TABLE statement. Parses
    the paren body at depth 0, skipping table-level constraints.
    REAL-affinity matters because SQLite stores integral REAL values AS
    INTEGERS on disk and converts back on read — a byte-level reader
    must replay that conversion to read the values SQLite returns."""
    body = sql[sql.index("(") + 1 : sql.rindex(")")]
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    constraint = re.compile(
        r"^\s*(PRIMARY\s+KEY|UNIQUE|CHECK|FOREIGN\s+KEY|CONSTRAINT)\b", re.I
    )
    ipk = re.compile(r"\bINTEGER\s+PRIMARY\s+KEY\b", re.I)
    real_decl = re.compile(r"\b(REAL|FLOA|DOUB)", re.I)
    cols: list[str] = []
    ipk_idx: int | None = None
    real_idx: set[int] = set()
    for p in parts:
        if constraint.match(p):
            continue
        name = p.strip().split()[0].strip('"`[]' + "'")
        if ipk.search(p) and ipk_idx is None:
            ipk_idx = len(cols)
        decl = " ".join(p.strip().split()[1:])
        if real_decl.search(decl):
            real_idx.add(len(cols))
        cols.append(name)
    return cols, ipk_idx, real_idx


def read_table(payload: bytes, table: str) -> tuple[list[str], Iterator[tuple[int, list]]]:
    """One table of a SQLite payload → ``(column_names, iterator of
    (rowid, values))`` with INTEGER-PRIMARY-KEY NULLs replaced by the
    rowid. Raises a typed error when the table is missing."""
    db = SQLiteFile(payload)
    entry = next(
        (
            m
            for m in db.master_rows()
            if m["type"] == "table" and m["name"] == table
        ),
        None,
    )
    if entry is None:
        raise ValueError(f"table {table!r} not found in SQLite payload")
    sql = entry["sql"] or ""
    if re.search(r"\bWITHOUT\s+ROWID\b", sql, re.I):
        raise ValueError(f"table {table!r} is WITHOUT ROWID (unsupported)")
    cols, ipk_idx, real_idx = _columns_from_create_sql(sql)

    def rows() -> Iterator[tuple[int, list]]:
        for rowid, vals in db.table_btree_rows(entry["rootpage"]):
            if len(vals) < len(cols):
                vals = vals + [None] * (len(cols) - len(vals))
            if ipk_idx is not None and vals[ipk_idx] is None:
                vals[ipk_idx] = rowid
            for i in real_idx:
                if isinstance(vals[i], int):
                    vals[i] = float(vals[i])
            yield rowid, vals

    return cols, rows()
