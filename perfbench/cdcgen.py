"""Seeded pgoutput change streams and the expected-state model they are
checked against.

Every stream is a sequence of transactions over one relation, encoded with
the package's own pgoutput encoder so the benchmark feeds the decoder real
wire bytes. The generator keeps an independent model of the table — keys to
text images, with TOAST-unchanged columns inherited, deletes removing the
row and a re-insert after delete starting a fresh image — which is what the
pipeline's output must equal.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import random
from dataclasses import dataclass, field
from typing import Optional

from postgresql_cdc_spark.sources.pgoutput import (
    ColumnMeta,
    Relation,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)

# PostgreSQL type OIDs of the columns below.
_OID = {"long": 20, "int": 23, "double": 701, "string": 25, "timestamp": 1114}

# 16-column lineitem-shaped relation for the batch replay.
LINEITEM = {
    "l_orderkey": "long",
    "l_linenumber": "int",
    "l_partkey": "long",
    "l_suppkey": "long",
    "l_quantity": "double",
    "l_extendedprice": "double",
    "l_discount": "double",
    "l_tax": "double",
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_shipdate": "timestamp",
    "l_commitdate": "timestamp",
    "l_receiptdate": "timestamp",
    "l_shipinstruct": "string",
    "l_shipmode": "string",
    "l_comment": "string",
}
LINEITEM_KEY = ("l_orderkey", "l_linenumber")
# Columns a sparse update ships as TOAST-unchanged ('u'): absent from the
# decoded map, so the merge must inherit them from the prior image.
LINEITEM_TOASTED = ("l_shipinstruct", "l_comment")

# Narrow table the live tail writes through the kv sink.
KV = {"id": "long", "v_int": "int", "v_text": "string", "v_num": "double"}
KV_KEY = ("id",)

_WORDS = ("carefully final deposits sleep furiously quickly regular packages "
          "boost blithely express accounts haggle slyly pending requests "
          "nag ironic theodolites wake bold").split()
_INSTRUCT = ("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
_MODES = ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
_EPOCH = dt.datetime(1995, 1, 1)


def relation(rel_id: int, name: str, columns: dict, key: tuple) -> Relation:
    return Relation(rel_id, "public", name, "d", tuple(
        ColumnMeta(c, _OID[t], 1 if c in key else 0) for c, t in columns.items()
    ))


def parse_text(text: Optional[str], type_name: str):
    """PG text value -> the Python value Spark's cast of it collects to."""
    if text is None:
        return None
    if type_name in ("long", "int"):
        return int(text)
    if type_name == "double":
        return float(text)
    if type_name == "timestamp":
        return dt.datetime.fromisoformat(text)
    return text


class ExpectedState:
    """Current table state as PostgreSQL would hold it after the changes.

    Keys map to text images. An update inherits every column absent from its
    map (TOAST-unchanged); a delete removes the key; an insert — including a
    re-insert after delete — starts a fresh image."""

    def __init__(self, columns: dict, key: tuple) -> None:
        self.columns = columns
        self.key = key
        self.rows: dict[tuple, dict] = {}

    def apply(self, op: str, values: dict) -> None:
        k = tuple(values[c] for c in self.key)
        if op == "I":
            self.rows[k] = dict(values)
        elif op == "U":
            img = dict(self.rows.get(k, {}))
            img.update(values)
            self.rows[k] = img
        elif op == "D":
            self.rows.pop(k, None)
        else:
            raise ValueError(f"unknown op {op!r}")

    def typed_rows(self) -> list[tuple]:
        names = list(self.columns)
        return [
            tuple(parse_text(img.get(c), self.columns[c]) for c in names)
            for img in self.rows.values()
        ]


def content_hash(rows) -> str:
    """Order-insensitive hash of typed rows (floats by repr, so any bit of
    difference shows)."""
    def canon(v):
        if v is None:
            return "∅"
        return repr(v) if isinstance(v, float) else str(v)

    lines = sorted("|".join(canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class _KeyPool:
    """Set of keys with O(1) uniform random pick and removal."""

    def __init__(self) -> None:
        self.items: list = []
        self.pos: dict = {}

    def add(self, k) -> None:
        if k not in self.pos:
            self.pos[k] = len(self.items)
            self.items.append(k)

    def remove(self, k) -> None:
        i = self.pos.pop(k)
        last = self.items.pop()
        if i < len(self.items):
            self.items[i] = last
            self.pos[last] = i

    def pick(self, rng: random.Random):
        return self.items[rng.randrange(len(self.items))]

    def __len__(self) -> int:
        return len(self.items)


@dataclass
class Txn:
    frames: list  # [(lsn, payload)], BEGIN .. COMMIT
    commit_lsn: int
    n_dml: int


@dataclass
class Stream:
    """Encoder state shared by every transaction of one stream."""

    rel: Relation
    model: ExpectedState
    lsn: int = 0x1_000_000
    xid: int = 1000
    relation_frame: tuple = field(init=False)

    def __post_init__(self) -> None:
        self.relation_frame = self._frame(encode_relation(self.rel))

    def _frame(self, payload: bytes) -> tuple:
        self.lsn += 24 + len(payload)
        return (self.lsn, payload)

    def txn(self, changes: list) -> Txn:
        """Encode ``[(op, values, toast_cols)]`` as one transaction and apply
        it to the model."""
        names = [c.name for c in self.rel.columns]
        rid = self.rel.relation_id
        self.xid += 1
        frames = [self._frame(encode_begin(0, 0, self.xid))]
        for op, values, toast in changes:
            row = [values.get(c) for c in names]
            if op == "I":
                payload = encode_insert(rid, row)
            elif op == "U":
                payload = encode_update(
                    rid, row, toast={names.index(c) for c in toast})
            else:
                payload = encode_delete(
                    rid, [values.get(c) if c in self.model.key else None
                          for c in names])
            frames.append(self._frame(payload))
            self.model.apply(op, {c: v for c, v in values.items()
                                  if c not in toast})
        frames.append(self._frame(encode_commit(0, 0, 0)))
        return Txn(frames, frames[-1][0], len(changes))


def _ts(rng: random.Random, lo_days: int = 0, span: int = 2500) -> str:
    return str(_EPOCH + dt.timedelta(days=lo_days + rng.randrange(span)))


def _lineitem_image(rng: random.Random, key: tuple) -> dict:
    q = rng.randint(1, 50)
    ship = rng.randrange(2500)
    return {
        "l_orderkey": str(key[0]),
        "l_linenumber": str(key[1]),
        "l_partkey": str(rng.randrange(20_000)),
        "l_suppkey": str(rng.randrange(1_000)),
        "l_quantity": str(q),
        "l_extendedprice": f"{q * rng.uniform(900, 2100):.2f}",
        "l_discount": f"{rng.randint(0, 10) / 100:.2f}",
        "l_tax": f"{rng.randint(0, 8) / 100:.2f}",
        "l_returnflag": rng.choice("ANR"),
        "l_linestatus": rng.choice("FO"),
        "l_shipdate": str(_EPOCH + dt.timedelta(days=ship)),
        "l_commitdate": _ts(rng, ship - 30, 60),
        "l_receiptdate": _ts(rng, ship + 1, 30),
        "l_shipinstruct": rng.choice(_INSTRUCT),
        "l_shipmode": rng.choice(_MODES),
        "l_comment": " ".join(rng.choice(_WORDS)
                              for _ in range(rng.randint(8, 40))),
    }


def lineitem_archive(seed: int, n_dml: int) -> tuple[Stream, list]:
    """Backfill change stream: ``n_dml`` row changes in transactions of
    1-20 rows — 55% inserts of new keys, 28% sparse updates that ship the
    long text columns TOAST-unchanged, 12% deletes and 5% re-inserts of
    deleted keys. Returns the stream (its model holds the expected state)
    and every frame, relation first."""
    rng = random.Random(seed)
    st = Stream(relation(16_385, "lineitem", LINEITEM, LINEITEM_KEY),
                ExpectedState(LINEITEM, LINEITEM_KEY))
    frames = [st.relation_frame]
    live, dead = _KeyPool(), _KeyPool()
    next_order = 1
    made = 0
    while made < n_dml:
        changes = []
        for _ in range(min(rng.randint(1, 20), n_dml - made)):
            r = rng.random()
            if r < 0.55 or len(live) < 100:
                key = (next_order, rng.randint(1, 7))
                next_order += 1
                changes.append(("I", _lineitem_image(rng, key), ()))
                live.add(key)
            elif r < 0.83:
                key = live.pick(rng)
                q = rng.randint(1, 50)
                img = _lineitem_image(rng, key)
                img["l_quantity"] = str(q)
                img["l_extendedprice"] = f"{q * rng.uniform(900, 2100):.2f}"
                changes.append(("U", img, LINEITEM_TOASTED))
            elif r < 0.95 or not len(dead):
                key = live.pick(rng)
                live.remove(key)
                dead.add(key)
                changes.append(("D", {"l_orderkey": str(key[0]),
                                      "l_linenumber": str(key[1])}, ()))
            else:
                key = dead.pick(rng)
                dead.remove(key)
                live.add(key)
                changes.append(("I", _lineitem_image(rng, key), ()))
        made += len(changes)
        frames.extend(st.txn(changes).frames)
    return st, frames


class KvWorkload:
    """Live-tail change generator over a Zipf-skewed key space: a drawn key
    that is not live is inserted (a re-insert if it was deleted before);
    a live one is updated (80%) or deleted (20%). Transactions hold 1-50
    rows."""

    def __init__(self, seed: int, n_keys: int, zipf_s: float = 1.1) -> None:
        self.rng = random.Random(seed)
        self.stream = Stream(relation(16_390, "kv", KV, KV_KEY),
                             ExpectedState(KV, KV_KEY))
        ids = list(range(1, n_keys + 1))
        self.rng.shuffle(ids)
        self.ids = ids
        acc, cum = 0.0, []
        for rank in range(1, n_keys + 1):
            acc += rank ** -zipf_s
            cum.append(acc)
        self.cum = cum
        self.live: set = set()

    def draw_key(self, rng: Optional[random.Random] = None) -> int:
        r = (rng or self.rng).random() * self.cum[-1]
        return self.ids[min(bisect.bisect_left(self.cum, r),
                            len(self.ids) - 1)]

    def txn(self) -> Txn:
        rng = self.rng
        changes = []
        for _ in range(rng.randint(1, 50)):
            k = self.draw_key()
            if k not in self.live or rng.random() >= 0.2:
                op = "U" if k in self.live else "I"
                self.live.add(k)
                changes.append((op, {
                    "id": str(k),
                    "v_int": str(rng.randrange(1_000_000)),
                    "v_text": f"acct-{k}-{rng.randrange(10_000)}",
                    "v_num": f"{rng.uniform(-1e4, 1e4):.3f}",
                }, ()))
            else:
                self.live.discard(k)
                changes.append(("D", {"id": str(k)}, ()))
        return self.stream.txn(changes)
