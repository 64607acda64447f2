"""Seeded input generator for the CDC stream benchmark.

Every workload is built in two steps:

* a *structure* drawn from a fixed internal seed: how many events of each
  op, which table each event slot belongs to, which row index each event
  targets, which rows hit a truncation edge, which vectors are planted
  near-copies.  It never depends on ``--seed``;
* an *identity* drawn from ``--seed``: which key values the row indices
  map to, field contents, the order of the snapshot, the vector values.

So the seed picks which keys and rows are used and in what order, never
how many: event counts per op, distinct keys, truncation hits, planted
duplicates and rendered bytes are identical for every seed (all rendered
fields are fixed-width).

Logical events are plain dicts; :func:`render` turns one into a Debezium
JSON line.  The checker works from the logical events, never from the
rendered lines.  This module imports no engine code.
"""

from __future__ import annotations

import json
import random
import string
from dataclasses import dataclass, field

STRUCT_SEED = 20240517
TS_BASE = 1_700_000_000_000  # envelope ts_ms = TS_BASE + global sequence
ALNUM = string.ascii_letters + string.digits
_ALNUM_OF_BYTE = bytes(ord(ALNUM[b % len(ALNUM)]) for b in range(256))


def _s(rnd: random.Random, n: int) -> str:
    """n seeded alphanumeric characters."""
    return rnd.randbytes(n).translate(_ALNUM_OF_BYTE).decode()


def _id_pool(rnd: random.Random, n: int, width: int) -> list[str]:
    """n distinct fixed-width numeric ids, in seeded order."""
    vals = rnd.sample(range(10 ** (width - 1), 10**width), n)
    return [str(v) for v in vals]


# --------------------------------------------------------------------------
# route_fanout: 8 dbs x 6 tables, overlapping regex rules, composite keys


DBS = ["Sales", "sales_eu", "Inventory", "inv_archive", "CRM", "crm_v2",
       "Billing", "billing_old"]
# table -> [(column, width)], primary-key columns first
TABLES = {
    "orders": [("order_id", 10), ("status", 8), ("customer_id", 8),
               ("amount", 9), ("note", 24)],
    "order_items": [("order_id", 10), ("line_no", 3), ("sku", 12),
                    ("qty", 3), ("price", 8)],
    "customers": [("customer_id", 8), ("region", 4), ("name", 16),
                  ("email", 24)],
    "payments": [("payment_id", 10), ("currency", 3), ("seq", 4),
                 ("amount", 9), ("method", 8)],
    "audit_log": [("actor", 8), ("action", 10), ("detail", 32)],
    "events": [("event_id", 12), ("kind", 6), ("payload", 40)],
}
# Overlapping rules: the engine (and the checker) probe longest key first,
# unanchored.  `.*=orders` and `=order` both match db=orders with different
# keys, so a wrong winner changes the partition key and the checker sees it.
ROUTE_RULES = [
    {"db": ".*", "table": "order_items", "primary_key": "order_id,line_no"},
    {"db": ".*", "table": "orders", "primary_key": "order_id"},
    {"db": "", "table": "order", "primary_key": "order_id,status"},
    {"db": "s_eu", "table": "customers", "primary_key": "customer_id,region"},
    {"db": "", "table": "customers", "primary_key": "customer_id"},
    {"db": "[Bb]illing.*", "table": "payments",
     "primary_key": "payment_id,currency"},
    {"db": "", "table": "payments", "primary_key": "payment_id,currency,seq"},
    {"db": "", "table": "audit_log", "primary_key": ""},
    {"db": "CRM", "table": "events", "primary_key": "event_id,kind"},
    {"db": "", "table": "events", "primary_key": "event_id"},
]
TOPIC_PREFIX = "cdc_"
NUM_PARTITIONS = 12

# ----------------------------------------------------------------------
# upsert_churn: one table, truncation rule, hot-key churn on a fixed key space

UPSERT_DB, UPSERT_TABLE = "shop", "items"
UPSERT_TRUNC = {"title": 16, "note": 32}
# lengths below, exactly at (the >= edge) and above each limit
TITLE_LENS = [8, 16, 24]
NOTE_LENS = [20, 32, 48]
UPSERT_RULES = [{
    "db": UPSERT_DB, "table": UPSERT_TABLE, "primary_key": "item_id",
    "column_max_length": "title=16|note=32",
}]


@dataclass
class Stream:
    """Logical events split into backlog files and tail files."""

    warmup: list[list[dict]] = field(default_factory=list)
    backlog: list[list[dict]] = field(default_factory=list)
    tail: list[list[dict]] = field(default_factory=list)

    def all_events(self) -> list[dict]:
        return [e for f in self.backlog + self.tail for e in f]


# the Debezium source block around db/table/pos, fields in wire order;
# db and table names are plain ASCII, so they are spliced in unescaped
_SRC = ('"source":{"version":"1.9.7.Final","connector":"mysql",'
        '"name":"mysql_binlog_source","ts_ms":%d,"snapshot":"%s",'
        '"db":"%s","table":"%s","server_id":1,"gtid":null,'
        '"file":"mysql-bin.000003","pos":%d,"row":0,"thread":null,'
        '"query":null}')
_dumps = json.JSONEncoder(separators=(",", ":")).encode


def render(ev: dict) -> str:
    """Logical event -> one Debezium JSON line (compact, nulls kept)."""
    if ev["op"] == "x":
        return ev["raw"]
    src = _SRC % (TS_BASE, "true" if ev["op"] == "r" else "false",
                  ev["db"], ev["table"], 1_000_000_000 + ev["seq"])
    return (f'{{"before":{_dumps(ev["before"])},"after":{_dumps(ev["after"])},'
            f'{src},"op":"{ev["op"]}","ts_ms":{TS_BASE + ev["seq"]},'
            f'"transaction":null}}')


def _chunk(events: list[dict], size: int) -> list[list[dict]]:
    return [events[i:i + size] for i in range(0, len(events), size)]


def _change_ops(st: random.Random, n_rows: int, n_changes: int,
                p_insert: float, p_delete: float):
    """Structural op list over row indices: ('c'|'u'|'d', row_index).
    Updates and deletes target live rows, inserts create new rows.
    ``n_rows`` rows exist before the first change."""
    live = list(range(n_rows))
    nxt = n_rows
    ops = []
    for _ in range(n_changes):
        x = st.random()
        if x < p_insert or len(live) < 2:
            ops.append(("c", nxt))
            live.append(nxt)
            nxt += 1
        elif x < p_insert + p_delete:
            i = st.randrange(len(live))
            live[i], live[-1] = live[-1], live[i]
            ops.append(("d", live.pop()))
        else:
            ops.append(("u", live[st.randrange(len(live))]))
    return ops, nxt


def route_fanout(seed: int, snapshot_rows: int, backlog_changes: int,
                 tail_files: int, tail_lines: int, warmup_files: int,
                 file_lines: int, malformed_every: int = 100) -> Stream:
    """Events for the route_fanout workload.

    Per table: ``snapshot_rows`` op=r images, then a change log of c/u/d.
    The backlog holds the snapshot and ``backlog_changes`` changes; the
    tail continues the change log.  One line in ``malformed_every`` is
    a non-JSON line."""
    st = random.Random(STRUCT_SEED)
    rnd = random.Random(seed)
    tables = [(db, t) for db in DBS for t in TABLES]
    n_tail = tail_files * tail_lines
    n_warm = warmup_files * tail_lines
    total_changes = backlog_changes + n_tail + n_warm
    # structural slot -> table assignment, identical for every seed
    per_table = total_changes // len(tables)
    counts = [per_table] * len(tables)
    for i in range(total_changes - per_table * len(tables)):
        counts[i] += 1
    ops_by_table, rows_needed = {}, {}
    for ti, tb in enumerate(tables):
        ops_by_table[tb], rows_needed[tb] = _change_ops(
            st, snapshot_rows, counts[ti], 0.2, 0.15)
    # which table each change slot belongs to is structural too: with a
    # seeded interleaving, the mix of tables (and so of ops and line
    # widths) cut into the backlog, the tail and the unused rest would move
    slots = [ti for ti, c in enumerate(counts) for _ in range(c)]
    st.shuffle(slots)

    # seeded identities: row index -> stable key columns.  The first key
    # column is unique per row; the others are drawn freely (the pair is
    # unique through the first).
    stable = {}
    for tb in tables:
        cols = TABLES[tb[1]][:_npk(tb[1])]
        first = _id_pool(rnd, rows_needed[tb], cols[0][1]) if cols else []
        stable[tb] = [
            {c: (first[r] if k == 0 else
                 str(rnd.randrange(10 ** (w - 1), 10**w)))
             for k, (c, w) in enumerate(cols)}
            for r in range(rows_needed[tb])
        ]

    def image(tb, row):
        keep = stable[tb][row]
        cols = TABLES[tb[1]]
        fresh = _s(rnd, sum(w for c, w in cols if c not in keep))
        out, at = {}, 0
        for c, w in cols:
            if c in keep:
                out[c] = keep[c]
            else:
                out[c], at = fresh[at:at + w], at + w
        return out

    seq = [0]
    current: dict = {}

    def ev(tb, op, before, after):
        seq[0] += 1
        return {"db": tb[0], "table": tb[1], "op": op, "before": before,
                "after": after, "seq": seq[0]}

    def malformed():
        seq[0] += 1
        return {"op": "x", "seq": seq[0],
                "raw": "corrupt:" + _s(rnd, 56)}

    snap = []
    for tb in tables:
        for row in range(snapshot_rows):
            current[(tb, row)] = image(tb, row)
    order = [(tb, row) for tb in tables for row in range(snapshot_rows)]
    rnd.shuffle(order)
    for tb, row in order:
        snap.append(ev(tb, "r", None, current[(tb, row)]))

    pos = {tb: 0 for tb in tables}
    changes = []
    for ti in slots:
        tb = tables[ti]
        op, row = ops_by_table[tb][pos[tb]]
        pos[tb] += 1
        old = current.get((tb, row))
        if op == "d":
            changes.append(ev(tb, "d", old, None))
            del current[(tb, row)]
        else:
            new = image(tb, row)
            # pk columns keep their value across updates
            current[(tb, row)] = new
            changes.append(ev(tb, op, old if op == "u" else None, new))

    # one non-JSON line after every `malformed_every` events, at positions
    # fixed by the structure
    events = snap + changes
    lines = []
    for i, e in enumerate(events):
        lines.append(e)
        if (i + 1) % malformed_every == 0:
            lines.append(malformed())
    n_back = len(snap) + backlog_changes
    cut = next(i for i, e in enumerate(lines) if e["seq"] > n_back
               and e["op"] != "x") if n_back < len(events) else len(lines)
    backlog, rest = lines[:cut], lines[cut:]
    tail = _chunk(rest, tail_lines)[:tail_files]
    warm = _chunk(rest[tail_files * tail_lines:], tail_lines)[:warmup_files]
    return Stream(warmup=warm, backlog=_chunk(backlog, file_lines),
                  tail=tail)


def _npk(table: str) -> int:
    """How many leading columns of a table carry stable identity.

    Columns that appear in any rule's primary key keep their value across
    updates of one row (so delete-aware keys are stable); others change."""
    pk = {c for r in ROUTE_RULES for c in r["primary_key"].split(",") if c}
    n = 0
    for c, _ in TABLES[table]:
        if c not in pk:
            break
        n += 1
    return n


def upsert_churn(seed: int, keys: int, backlog_changes: int, tail_files: int,
                 tail_lines: int, warmup_files: int, file_lines: int,
                 hot_keys: int, hot_share: float) -> Stream:
    """Events for the upsert_churn workload: a snapshot of ``keys`` rows,
    then hot-key updates/deletes/re-inserts over the same key space.

    Which row index is hit by each event (the hotness profile) and which
    length class each title/note gets are structural; the seed maps row
    indices to key values and picks field contents."""
    st = random.Random(STRUCT_SEED + 1)
    rnd = random.Random(seed)
    n_tail = tail_files * tail_lines
    n_warm = warmup_files * tail_lines
    total = backlog_changes + n_tail + n_warm
    live = [True] * keys
    ops = []
    for _ in range(total):
        row = (st.randrange(hot_keys) if st.random() < hot_share
               else st.randrange(keys))
        if not live[row]:
            ops.append(("c", row))
            live[row] = True
        elif st.random() < 0.12:
            ops.append(("d", row))
            live[row] = False
        else:
            ops.append(("u", row))
    lens = [(st.choice(TITLE_LENS), st.choice(NOTE_LENS))
            for _ in range(keys + total)]

    ids = _id_pool(rnd, keys, 8)
    perm = list(range(keys))
    rnd.shuffle(perm)  # which key is hot is the seed's choice

    seq = [0]
    li = [0]

    def image(row):
        tl, nl = lens[li[0]]
        li[0] += 1
        return {"item_id": ids[perm[row]], "title": _s(rnd, tl),
                "note": _s(rnd, nl), "price": _s(rnd, 8), "qty": _s(rnd, 4)}

    def ev(op, before, after):
        seq[0] += 1
        return {"db": UPSERT_DB, "table": UPSERT_TABLE, "op": op,
                "before": before, "after": after, "seq": seq[0]}

    current = {}
    snap = []
    for row in range(keys):
        current[row] = image(row)
        snap.append(ev("r", None, current[row]))
    changes = []
    for op, row in ops:
        if op == "d":
            changes.append(ev("d", current.pop(row), None))
        else:
            new = image(row)
            changes.append(ev(op, current.get(row) if op == "u" else None,
                              new))
            current[row] = new
    backlog = snap + changes[:backlog_changes]
    rest = changes[backlog_changes:]
    return Stream(
        warmup=_chunk(rest[n_tail:], tail_lines)[:warmup_files],
        backlog=_chunk(backlog, file_lines),
        tail=_chunk(rest[:n_tail], tail_lines),
    )


# --------------------------------------------------------------------------
# vector corpus for the dedup probe


def vectors(seed: int, n: int, dims: int, planted: int, noise: float):
    """(ids, float32 matrix, {copy_id: base_id}).

    Which positions are planted near-copies and of which earlier base is
    structural; the seed draws the vector values.  A copy always has a
    larger id than its base, and ids follow arrival order, so the base is
    admitted first whatever the batching."""
    import numpy as np

    st = random.Random(STRUCT_SEED + 2)
    copy_pos = sorted(st.sample(range(n // 4, n), planted))
    taken = set(copy_pos)
    base_of = {}
    for c in copy_pos:
        while True:
            b = st.randrange(0, c)
            if b not in taken:
                break
        base_of[c] = b
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dims))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    for c, b in base_of.items():
        y = x[b] + noise * rng.standard_normal(dims)
        x[c] = y / np.linalg.norm(y)
    return list(range(n)), x.astype(np.float32), base_of
