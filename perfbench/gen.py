"""Seeded CSV deliveries for the benchmark's ingest workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Nothing reads outside the directory it is given.

``etl_plan`` builds the ``etl_increments`` delivery sequence and writes
its CSV files as ``<root>/<YYYYMMDD_HHMMSS>/<table>.csv``. The returned
plan carries the typed rows, so ``EtlModel`` can replay the pipeline's
contract in pure Python and check the warehouse against it.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import random
from dataclasses import dataclass, field

# table -> (columns, key columns or None for whole-row identity,
#           partition column for a partition-scoped merge)
ETL_TABLES = {
    "orders": (["order_id", "shard", "customer", "amount", "status"], ["order_id"], "shard"),
    "customers": (["cust_id", "name", "segment", "balance"], ["cust_id"], None),
    "events": (["day", "user", "action", "qty"], None, None),
}
_SHARD_ROWS = 2000  # orders per shard: new orders fill the newest shard
_STATUS = ["open", "paid", "shipped", "returned"]
_SEGMENTS = ["automobile", "building", "furniture", "household", "machinery"]
_ACTIONS = ["view", "click", "cart", "buy", "refund"]


@dataclass
class Delivery:
    folder: str
    table: str
    path: str
    rows: list[tuple]  # typed values, None = null cell
    csv_bytes: int

    @property
    def folder_ts(self) -> int:
        return int(self.folder.replace("_", ""))


@dataclass
class EtlPlan:
    base: list[Delivery]  # the first folders, loaded before timing
    increments: list[Delivery]  # loaded in order inside every pass
    ops: list[tuple[str, Delivery]] = field(default_factory=list)  # ("load"|"replay", d)


def _fmt(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return f"{v:.2f}"
    return str(v)


def csv_line(row: tuple) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerow([_fmt(v) for v in row])
    return buf.getvalue()


def _folder(i: int) -> str:
    t = dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)
    return t.strftime("%Y%m%d_%H%M%S")


class _Source:
    """Row factory per table; hands out new keys in order, so no key is
    issued twice."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.next_order = 0
        self.next_cust = 0

    def amount(self, hi: float) -> float:
        # two decimals, never integral-looking in the file ("12.50"), so
        # first-row inference types the column as a double
        return round(self.rng.uniform(1.0, hi), 2)

    def order(self, oid: int) -> tuple:
        r = self.rng
        return (oid, oid // _SHARD_ROWS, f"c{r.randrange(50_000):06d}",
                self.amount(5000.0), r.choice(_STATUS))

    def customer(self, cid: int) -> tuple:
        r = self.rng
        return (cid, f"name_{r.randrange(10**6):06d}", r.choice(_SEGMENTS),
                self.amount(10_000.0))

    def event(self) -> tuple:
        r = self.rng
        return (20240101 + r.randrange(28), f"u{r.randrange(3000):05d}",
                r.choice(_ACTIONS), float(r.randrange(1, 20)))


def _with_hygiene(rng: random.Random, rows: list[tuple], key_idx: int | None,
                  fresh_key) -> list[tuple]:
    """Add ~1% null rows and ~2% exact duplicates, shuffle, and keep the
    first data row null-free (first-row inference types every column
    from it). Null rows carry a never-used key, so keys stay unique
    within the delivery once exact duplicates are dropped."""
    out = list(rows)
    for _ in range(max(1, len(rows) // 100)):
        base = list(rng.choice(rows))
        if key_idx is not None:
            base[key_idx] = fresh_key()
        nullable = [i for i in range(len(base)) if i != key_idx]
        base[rng.choice(nullable)] = None
        out.append(tuple(base))
    out.extend(rng.choice(rows) for _ in range(max(1, len(rows) // 50)))
    rng.shuffle(out)
    first = next(i for i, r in enumerate(out) if None not in r)
    out[0], out[first] = out[first], out[0]
    return out


def _write_delivery(root: str, folder: str, table: str, rows: list[tuple]) -> Delivery:
    d = os.path.join(root, folder)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{table}.csv")
    text = csv_line(tuple(ETL_TABLES[table][0])) + "".join(csv_line(r) for r in rows)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(text)
    return Delivery(folder, table, path, rows, len(text.encode("utf-8")))


def etl_plan(root: str, seed: int, base_rows: int = 20_000, delta_rows: int = 800,
             n_increments: int = 4, replay_every: int = 3, base_folders: int = 1) -> EtlPlan:
    """Write one snapshot folder plus ``n_increments`` delivery folders
    (one CSV per table each). The first ``base_folders`` folders form the
    plan's base, loaded before timing; the ops are the remaining loads
    in folder order, with a replay of an already-loaded delivery after
    every ``replay_every`` loads (the watermark gate must skip it)."""
    rng = random.Random(seed)
    src = _Source(rng)
    orders: dict[int, tuple] = {}
    custs: dict[int, tuple] = {}

    def fresh_order() -> int:
        src.next_order += 1
        return src.next_order - 1

    def fresh_cust() -> int:
        src.next_cust += 1
        return src.next_cust - 1

    def orders_delta(n: int, first: bool) -> list[tuple]:
        rows = {}
        n_upd = 0 if first else int(n * 0.4)
        for _ in range(n - n_upd):
            oid = fresh_order()
            rows[oid] = src.order(oid)
        live = sorted(orders)
        while len(rows) < n:
            # updates mostly hit recent orders (the newest two shards),
            # sometimes an old one, so a delivery touches a few shards
            if rng.random() < 0.8:
                oid = live[-1 - rng.randrange(min(len(live), 2 * _SHARD_ROWS))]
            else:
                oid = rng.choice(live)
            if oid not in rows:
                rows[oid] = src.order(oid)
        orders.update(rows)
        return _with_hygiene(rng, list(rows.values()), 0, fresh_order)

    def custs_delta(n: int, first: bool) -> list[tuple]:
        rows = {}
        n_upd = 0 if first else int(n * 0.5)
        for _ in range(n - n_upd):
            cid = fresh_cust()
            rows[cid] = src.customer(cid)
        live = sorted(custs)
        while len(rows) < n:
            cid = rng.choice(live)
            if cid not in rows:
                rows[cid] = src.customer(cid)
        custs.update(rows)
        return _with_hygiene(rng, list(rows.values()), 0, fresh_cust)

    def events_delta(n: int) -> list[tuple]:
        return _with_hygiene(rng, list({src.event() for _ in range(n)}), None, None)

    def folder_rows(i: int, n: int) -> dict[str, list[tuple]]:
        first = i == 0
        return {"orders": orders_delta(n, first),
                "customers": custs_delta(n // 2, first),
                "events": events_delta(n)}

    folders = [
        _write_delivery(root, _folder(i), t, rows)
        for i in range(n_increments + 1)
        for t, rows in folder_rows(i, base_rows if i == 0 else delta_rows).items()
    ]
    n_base = base_folders * len(ETL_TABLES)
    plan = EtlPlan(folders[:n_base], folders[n_base:])
    loaded = list(plan.base)
    for k, d in enumerate(plan.increments, start=1):
        plan.ops.append(("load", d))
        loaded.append(d)
        if k % replay_every == 0:
            plan.ops.append(("replay", rng.choice(loaded[:-1])))
    return plan


class EtlModel:
    """The pipeline's contract in pure Python: a delivery not strictly
    newer than its table's watermark is skipped; otherwise rows with a
    null are dropped (and reported), exact duplicates collapse, rows
    upsert by key (whole row when keyless), the watermark advances and
    one success event is sent."""

    def __init__(self):
        self.tables: dict[str, dict] = {t: {} for t in ETL_TABLES}
        self.watermarks: dict[str, int] = {}
        self.events = {"null_rows": 0, "success": 0}

    def apply(self, d: Delivery) -> str:
        wm = self.watermarks.get(d.table)
        if wm is not None and d.folder_ts <= wm:
            return "skipped_not_newer"
        _, keys, _ = ETL_TABLES[d.table]
        cols = ETL_TABLES[d.table][0]
        key_idx = [cols.index(k) for k in keys] if keys else None
        good = [r for r in d.rows if None not in r]
        if len(good) < len(d.rows):
            self.events["null_rows"] += 1
        table = self.tables[d.table]
        for r in good:
            k = tuple(r[i] for i in key_idx) if key_idx else r
            table[k] = r
        self.watermarks[d.table] = d.folder_ts
        self.events["success"] += 1
        return "loaded"

    def rows(self, table: str) -> set[tuple]:
        return set(self.tables[table].values())

    def live_csv_bytes(self) -> int:
        return sum(len(csv_line(r).encode("utf-8"))
                   for t in self.tables.values() for r in t.values())
