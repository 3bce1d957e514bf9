"""Seeded input generators. Every input a run feeds the engine comes from
here, as files on disk; the expected results the checks compare against
come from the same in-memory arrays, never from the engine.

All generators are pure functions of ``(seed, sizes)``: the same seed
writes byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_EPOCH = dt.datetime(1970, 1, 1)

# ----------------------------------------------------------- bulk_load

# CSV columns and the type the engine's sample-based inference must
# give each: every value of a column has the same class and width, so
# the decision does not depend on the seed.
CSV_TYPES = {
    "id": "int64",            # > 2^31 -> bigint
    "code": "string",
    "amount": "decimal128(7, 2)",
    "qty": "int32",           # fits int -> integer
    "flag": "bool",
    "created": "timestamp[us]",  # 'YYYY-MM-DD HH:MM:SS' -> timestamp_ntz
    "day": "date32[day]",
    "note": "string",         # ~10% empty -> null
}

# JSONL columns and the types Spark's JSON reader gives them.
JSONL_TYPES = {
    "id": "int64",
    "user": "string",
    "score": "double",
    "active": "bool",
    "ts": "string",           # ISO text stays a string
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _text(*cols: pa.Array) -> str:
    """Rows of comma-joined text columns, one per line."""
    return "\n".join(pc.binary_join_element_wise(*cols, ",")
                     .to_pylist()) + "\n"


def bulk_csv(seed: int, n: int, part: int) -> tuple[str, pa.Table]:
    """One CSV part of ``n`` rows; returns (file text, expected table)."""
    r = _rng(seed, f"csv{part}")
    ids = 3_000_000_000 + part * 10_000_000 + np.arange(n, dtype=np.int64)
    code = r.integers(0, 10_000, n)
    whole = r.integers(1000, 10_000, n)
    cents = r.integers(0, 100, n)
    qty = r.integers(-50_000, 50_000, n)
    flag = r.random(n) < 0.5
    secs = r.integers(1_600_000_000, 1_700_000_000, n)
    days = r.integers(18_000, 20_000, n)
    note_null = r.random(n) < 0.1
    note_val = r.integers(0, 1 << 40, n)
    s = pa.string()
    code_t = pa.array([f"C{v:04d}" for v in code], s)
    amount_t = pa.array([f"{w}.{c:02d}" for w, c in zip(whole, cents)], s)
    created = pa.array(secs.astype("datetime64[s]"))
    day = pa.array(days.astype("datetime64[D]")).cast(pa.date32())
    note = pa.array([f"n{v:x}" for v in note_val], s,
                    mask=note_null)
    flag_b = pa.array(flag, pa.bool_())
    text = _text(pa.array(ids).cast(s), code_t, amount_t,
                 pa.array(qty).cast(s), flag_b.cast(s),
                 pc.strftime(created, "%Y-%m-%d %H:%M:%S"), day.cast(s),
                 pc.fill_null(note, ""))
    tbl = pa.table({
        "id": pa.array(ids, pa.int64()),
        "code": code_t,
        "amount": amount_t.cast(pa.decimal128(7, 2)),
        "qty": pa.array(qty, pa.int32()),
        "flag": flag_b,
        "created": created.cast(pa.timestamp("us")),
        "day": day,
        "note": note,
    })
    return "id,code,amount,qty,flag,created,day,note\n" + text, tbl


def bulk_jsonl(seed: int, n: int, part: int) -> tuple[str, pa.Table]:
    """One JSONL part of ``n`` rows; returns (file text, expected table)."""
    r = _rng(seed, f"jsonl{part}")
    ids = part * 10_000_000 + np.arange(n, dtype=np.int64)
    user = r.integers(0, 1 << 32, n)
    score = np.round(r.normal(50.0, 20.0, n), 3)
    active = r.random(n) < 0.3
    secs = r.integers(1_600_000_000, 1_700_000_000, n)
    tbl = pa.table({
        "id": pa.array(ids, pa.int64()),
        "user": pa.array([f"u{v:08x}" for v in user], pa.string()),
        "score": pa.array(score, pa.float64()),
        "active": pa.array(active, pa.bool_()),
        "ts": pc.strftime(pa.array(secs.astype("datetime64[s]")),
                          "%Y-%m-%dT%H:%M:%SZ"),
    })
    lines = [json.dumps(row) for row in tbl.to_pylist()]
    return "\n".join(lines) + "\n", tbl


def write_text(path: str, text: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
    return os.path.getsize(path)


# ---------------------------------------------------------- cdc_stream

CDC_ROW = pa.schema([
    ("id", pa.int64()),
    ("name", pa.string()),
    ("amount", pa.float64()),
    ("lsn", pa.int64()),      # the event's seq, carried in the row image
])


def cdc_event(key: int, op: str, seq: int, name: str,
              amount: float) -> dict:
    """One Debezium envelope; the row image carries the seq as ``lsn``."""
    img = {"id": key, "name": name, "amount": amount, "lsn": seq}
    return {"before": img if op == "d" else None,
            "after": None if op == "d" else img, "op": op, "ts_ms": seq}


def cdc_round(seed: int, rnd: int, n_keys: int, n_events: int,
              replay_share: float, seq0: int,
              prev: list[dict]) -> tuple[list[dict], list[dict]]:
    """One round of change events as Debezium envelopes; returns (the
    file's events in delivery order, the round's new events).

    Keys come from a fixed key space of ``n_keys``; each new event gets a
    fresh, strictly increasing seq (``ts_ms``) from ``seq0``. Ops are
    drawn at random (create 40%, update 45%, delete 15%) over keys drawn
    uniformly from the key space, so a create may hit a live key and a
    delete an absent one. At-least-once delivery, in two forms, each
    ``replay_share`` of ``n_events``: the file opens with the last new
    events of the previous file ``prev`` delivered again (a consumer that
    restarts re-reads from its last committed offset), and it ends with
    events of this round, drawn at random, delivered a second time. A
    replay carries its original seq. Every key in a redelivered stretch
    of ``prev`` has its newest event in that stretch too, so no replay
    here is older than a state committed in an earlier micro-batch."""
    r = _rng(seed, f"cdc{rnd}")
    ops = r.choice(["c", "u", "d"], size=n_events, p=[0.4, 0.45, 0.15])
    keys = r.integers(0, n_keys, n_events)
    amounts = np.round(r.random(n_events) * 500, 2)
    names = r.integers(0, 1 << 32, n_events)
    events = [cdc_event(int(keys[i]), str(ops[i]), seq0 + i,
                        f"k{names[i]:08x}", float(amounts[i]))
              for i in range(n_events)]
    n_rep = int(n_events * replay_share)
    picks = np.sort(r.choice(n_events, size=n_rep, replace=False))
    return prev[-n_rep:] + events + [events[i] for i in picks], events


def cdc_snapshot(seed: int, n_keys: int) -> list[dict]:
    """The initial snapshot: one read event (op 'r') per key, seqs
    1..n_keys."""
    r = _rng(seed, "snapshot")
    amounts = np.round(r.random(n_keys) * 500, 2)
    names = r.integers(0, 1 << 32, n_keys)
    return [cdc_event(k, "r", k + 1, f"k{names[k]:08x}", float(amounts[k]))
            for k in range(n_keys)]


def write_jsonl(path: str, rows: list[dict]) -> int:
    return write_text(path, "\n".join(json.dumps(e) for e in rows) + "\n")
