"""Independent checker: the reference semantics, re-implemented from the
reference job's description and applied to the generator's logical
events.  It imports no engine code and reads the engine's outputs with
pyarrow only.

Each check returns ``(attempted, failed, detail)`` where ``failed`` counts
wrong, missing and duplicated outputs.  Failures are reported as found,
never filtered.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np
import pyarrow.dataset as ds


# ---------------------------------------------------------------- routing


def java_hashcode(s: str) -> int:
    """Java ``String.hashCode``: ``h = 31*h + c`` over UTF-16 units, int32."""
    data = s.encode("utf-16-be")
    h = 0
    for i in range(0, len(data), 2):
        h = (31 * h + (data[i] << 8 | data[i + 1])) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def java_partition(key: str, n: int) -> int:
    """``Math.abs(key.hashCode % n)``: Java's remainder keeps the sign of
    the dividend, so its absolute value is ``|h| mod n``."""
    return abs(java_hashcode(key)) % n


def compile_rules(rules: list[dict]) -> list[tuple[re.Pattern, list[str]]]:
    """Rule keys ``db=table`` as regexes, longest key first (stable)."""
    keyed = [(f"{r['db']}={r['table']}",
              [c for c in r.get("primary_key", "").split(",") if c])
             for r in rules]
    keyed.sort(key=lambda kv: -len(kv[0]))
    return [(re.compile(k), pk) for k, pk in keyed]


def expected_key(ev: dict, rules) -> str:
    """Delete-aware partition key: pk values from ``before`` for deletes,
    ``after`` otherwise; the first (longest) unanchored regex match wins;
    no matching rule or an empty pk gives ``db.table.no_pk``."""
    db, table = ev["db"], ev["table"]
    probe = f"{db}={table}"
    side = ev["before"] if ev["op"] == "d" else ev["after"]
    for pat, pk in rules:
        if pat.search(probe):
            if not pk:
                break
            vals = [side[c] for c in pk if side.get(c) is not None]
            return ".".join([db, table, ".".join(vals)])
    return f"{db}.{table}.no_pk"


def check_route(events: list[dict], lines: dict[int, str], out_dir: str,
                rules: list[dict], prefix: str, n_parts: int):
    """Every input line reaches the sink exactly once with the reference
    key, topic ``prefix + lower(db)`` and partition; malformed lines
    arrive unchanged with a null topic."""
    compiled = compile_rules(rules)
    expected, part = {}, {}
    for ev in events:
        line = lines[ev["seq"]]
        if ev["op"] == "x":
            key, topic = "no_pk", None
        else:
            key, topic = expected_key(ev, compiled), prefix + ev["db"].lower()
        if key not in part:
            part[key] = java_partition(key, n_parts)
        expected[line] = (key, topic, part[key])
    t = ds.dataset(out_dir, format="parquet").to_table(
        columns=["key", "value", "topic", "partition"])
    got = Counter()
    wrong = 0
    cols = [t.column(c).to_pylist() for c in ("key", "value", "topic",
                                                "partition")]
    for key, value, topic, part in zip(*cols):
        line = value.decode()
        got[line] += 1
        if expected.get(line) != (key.decode(), topic, part):
            wrong += 1
    missing = sum(1 for ln in expected if got[ln] == 0)
    dup = sum(c - 1 for ln, c in got.items() if c > 1)
    detail = {"rows_out": t.num_rows, "wrong": wrong, "missing": missing,
              "duplicated": dup}
    return len(expected), wrong + missing + dup, detail


# ---------------------------------------------------------------- upsert


def truncate(img: dict, limits: dict[str, int]) -> dict:
    """``column_max_length`` with the reference's ``>=`` edge: a non-empty
    string of length >= N becomes its first N characters."""
    out = dict(img)
    for col, n in limits.items():
        v = out.get(col)
        if isinstance(v, str) and v != "" and len(v) >= n:
            out[col] = v[:n]
    return out


def expected_state(events: list[dict], pk: str, limits: dict[str, int]):
    """Latest state per key in event order; a delete removes the key."""
    state, seen = {}, set()
    for ev in events:
        if ev["op"] == "d":
            k = ev["before"][pk]
            state.pop(k, None)
        else:
            k = ev["after"][pk]
            state[k] = truncate(ev["after"], limits)
        seen.add(k)
    return state, seen


def check_upsert(events: list[dict], state_dir: str, pk: str,
                 limits: dict[str, int]):
    want, seen = expected_state(events, pk, limits)
    t = ds.dataset(state_dir, format="parquet",
                   partitioning="hive").to_table(columns=[pk, "payload"])
    got = Counter()
    wrong = 0
    for k, payload in zip(t.column(pk).to_pylist(),
                          t.column("payload").to_pylist()):
        got[k] += 1
        if want.get(k) != dict(payload):
            wrong += 1
    missing = sum(1 for k in want if got[k] == 0)
    dup = sum(c - 1 for c in got.values() if c > 1)
    detail = {"keys": len(seen), "live_keys": len(want),
              "state_rows": t.num_rows, "wrong": wrong, "missing": missing,
              "duplicated": dup}
    return len(seen), wrong + missing + dup, detail


# ------------------------------------------------------------ vector dedup


def plane_weights(seed: int, t: int, p: int, dims: int) -> list[float]:
    """+-1 weights from the parity of md5("{seed}_{t}_{p}_{i}")[:8]."""
    return [
        1.0 if int(hashlib.md5(f"{seed}_{t}_{p}_{i}".encode())
                   .hexdigest()[:8], 16) % 2 == 0 else -1.0
        for i in range(dims)
    ]


def lsh_buckets(x: np.ndarray, n_planes: int, n_tables: int,
                seed: int = 42) -> np.ndarray:
    """(n, n_tables) bucket ids: plane p sets bit p when the projection,
    summed left to right over dimensions in float64, is > 0."""
    n, dims = x.shape
    xd = x.astype(np.float64)
    out = np.zeros((n, n_tables), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            w = plane_weights(seed, t, p, dims)
            acc = np.zeros(n)
            for i in range(dims):
                acc = acc + xd[:, i] * w[i]
            out[:, t] |= (acc > 0.0).astype(np.int64) << p
    return out


def near_matrix(x: np.ndarray, buckets: np.ndarray, rows: list[int],
                cols: list[int], tau: float) -> np.ndarray:
    """bool[len(rows), len(cols)]: the pair shares a bucket in at least
    one table and its cosine, rounded to 6 places, is >= tau."""
    a = x[rows].astype(np.float64)
    b = x[cols].astype(np.float64)
    cos = (a @ b.T) / np.outer(np.linalg.norm(a, axis=1),
                               np.linalg.norm(b, axis=1))
    hit = np.zeros(cos.shape, dtype=bool)
    for t in range(buckets.shape[1]):
        hit |= buckets[rows, t][:, None] == buckets[cols, t][None, :]
    return hit & (np.round(cos, 6) >= tau)


def expected_admitted(x: np.ndarray, batches: list[list[int]],
                      buckets: np.ndarray, tau: float) -> set:
    """Admit a vector unless it is near (see :func:`near_matrix`) an
    admitted vector of an earlier batch; inside a batch, of a near pair
    among the survivors the larger id is dropped."""
    admitted: list[int] = []
    for batch in batches:
        batch = sorted(batch)
        surv = batch
        if admitted:
            dup = near_matrix(x, buckets, batch, admitted, tau).any(axis=1)
            surv = [i for i, d in zip(batch, dup) if not d]
        m = near_matrix(x, buckets, surv, surv, tau)
        drop = np.triu(m, k=1).any(axis=0)  # has a smaller near survivor
        admitted += [i for i, d in zip(surv, drop) if not d]
    return set(admitted)


def expected_pairs(x: np.ndarray, ids: list[int], buckets: np.ndarray,
                   tau: float) -> set:
    """All (lo, hi) near pairs among ``ids``."""
    ids = sorted(ids)
    lo, hi = np.nonzero(np.triu(near_matrix(x, buckets, ids, ids, tau), 1))
    return {(ids[a], ids[b]) for a, b in zip(lo, hi)}


def check_set(want: set, got: list) -> tuple[int, int, dict]:
    c = Counter(got)
    missing = len(want - set(c))
    extra = len(set(c) - want)
    dup = sum(v - 1 for v in c.values() if v > 1)
    return len(want), missing + extra + dup, {
        "expected": len(want), "missing": missing, "extra": extra,
        "duplicated": dup}
