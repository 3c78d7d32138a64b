"""Seeded input generators for the two benchmark workloads.

Every input the program sees comes from here, and every function is a pure
function of the seed (plus a batch number), so the same seed gives
byte-identical files. Sub-streams are keyed ``[seed, stream, index]`` so
that adding a stream never shifts another one's numbers.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np

# Stream ids for np.random.default_rng([seed, stream, ...]).
_S_INGEST, _S_CDC = 1, 2


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def zipf_probs(n: int, s: float) -> np.ndarray:
    """Bounded Zipf over ranks 0..n-1 (rank 0 is the most popular)."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _dump_lines(records: list[dict]) -> bytes:
    return "".join(
        json.dumps(r, separators=(",", ":"), sort_keys=True) + "\n" for r in records
    ).encode()


def write_bytes(path: str, data: bytes) -> None:
    """Write a file, then rename it into place, so a streaming file source
    never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


# -- ingest_cow: nested JSON documents ------------------------------------

INGEST_SCHEMA = (
    "doc_id BIGINT, ts BIGINT, status STRING, "
    "customer STRUCT<id: BIGINT, name: STRING, region: STRING>, "
    "items ARRAY<STRUCT<sku: STRING, qty: INT, price: DOUBLE>>, "
    "tags ARRAY<STRING>"
)
# The transform every import applies after auto-flatten (one row per item).
INGEST_SQL = (
    "SELECT concat(cast(doc_id AS STRING), ':', items_sku) AS rk, doc_id, ts, "
    "status, customer_id, customer_name, customer_region AS region, "
    "items_sku AS sku, items_qty AS qty, items_price AS price, "
    "items_qty * items_price AS line_total, tags FROM <SRC>"
)
# Shape of the ingest batches: the share of new documents, and the Zipf
# skew of the updated keys.
INGEST_NEW_FRAC = 0.1
INGEST_ZIPF = 1.1
REGIONS = [f"r{i}" for i in range(8)]
STATUSES = ["new", "paid", "shipped", "returned"]
TAGS = ["gift", "bulk", "promo", "priority", "export"]


class IngestGen:
    """Genesis documents plus a sequence of upsert batches.

    Batch ``i`` holds ``batch_docs`` documents: a fixed share of new ids,
    the rest updates of existing ids drawn Zipf-skewed over a seeded
    permutation (so hot keys spread over partitions). ``ts`` (the
    precombine field) grows by one per emitted document, so no two
    versions of a key ever tie.
    """

    def __init__(self, seed: int, genesis_docs: int, batch_docs: int) -> None:
        self.seed = seed
        self.genesis_docs = genesis_docs
        self.batch_docs = batch_docs
        self.new_per_batch = max(1, round(batch_docs * INGEST_NEW_FRAC))
        self._hot = rng(seed, _S_INGEST, 0).permutation(genesis_docs)
        self._p = zipf_probs(genesis_docs, INGEST_ZIPF)

    def _doc(self, r: np.random.Generator, doc_id: int, ts: int) -> dict:
        n_items = 1 + doc_id % 3
        # sku set is a function of the doc, so updates hit the same rows
        skus = [f"sku{(doc_id * 7 + j * 13) % 64:03d}" for j in range(n_items)]
        return {
            "doc_id": doc_id,
            "ts": ts,
            "status": STATUSES[int(r.integers(len(STATUSES)))],
            "customer": {
                "id": doc_id % 5000,
                "name": f"Customer#{doc_id % 5000:06d}",
                "region": REGIONS[(doc_id * 2654435761) % len(REGIONS)],
            },
            "items": [
                {"sku": s, "qty": int(r.integers(1, 50)),
                 "price": round(float(r.uniform(1, 500)), 2)}
                for s in skus
            ],
            "tags": [TAGS[int(t)] for t in r.choice(len(TAGS), int(r.integers(0, 3)), replace=False)],
        }

    def genesis(self) -> bytes:
        r = rng(self.seed, _S_INGEST, 1)
        return _dump_lines([self._doc(r, d, d + 1) for d in range(self.genesis_docs)])

    def batch(self, i: int) -> bytes:
        r = rng(self.seed, _S_INGEST, 2, i)
        n_upd = self.batch_docs - self.new_per_batch
        upd = self._hot[r.choice(self.genesis_docs, n_upd, p=self._p)]
        new = self.genesis_docs + i * self.new_per_batch + np.arange(self.new_per_batch)
        ids = np.concatenate([upd, new])
        r.shuffle(ids)
        ts0 = self.genesis_docs + i * self.batch_docs + 1
        return _dump_lines([self._doc(r, int(d), ts0 + j) for j, d in enumerate(ids)])


# -- cdc_mor: binlog change events over many tables -----------------------

CDC_DB = "shop"
CDC_T0 = datetime(2024, 1, 1)
CDC_GENESIS_TS = "2023-12-31T00:00:00"
# Shape of the change stream: the Zipf skew of table popularity, and the
# shares of events redelivered (duplicates) and delivered a file late.
CDC_ZIPF = 1.5
CDC_DUP_FRAC = 0.03
CDC_LATE_FRAC = 0.03


def cdc_table_names(n: int) -> list[str]:
    return [f"t{i:02d}" for i in range(n)]


class CdcGen:
    """Binlog files for ``n_tables`` tables with Zipf table popularity.

    Each file holds ``events`` events, each table its Zipf share of them:
    inserts of new ids, updates and deletes of ids drawn from each table's
    id space. ``ts`` has second
    resolution with four events per second, so same-key ties inside a file
    happen and must break on the binlog position. A share of events is
    redelivered (duplicated) and a share is held back and delivered one
    file late with its original ts and position (out of order).

    Files must be generated in order: the held-back events and each
    table's next id carry over from one file to the next.
    """

    def __init__(self, seed: int, n_tables: int, genesis_rows: int, events: int) -> None:
        self.seed = seed
        self.tables = cdc_table_names(n_tables)
        self.genesis_rows = genesis_rows
        self.events = events
        # every file gives each table its Zipf share of the events (largest
        # remainder), so all files touch the same tables equally hard
        share = zipf_probs(n_tables, CDC_ZIPF) * events
        counts = np.floor(share).astype(int)
        rest = np.argsort(counts - share)[: events - counts.sum()]
        counts[rest] += 1
        self._table_of_event = np.repeat(np.arange(n_tables), counts)
        self._next_id = [genesis_rows] * n_tables
        self._held: list[dict] = []
        self._clock = 0  # global event counter; ts = T0 + clock // 4 s
        self.files_made = 0

    def genesis_file(self) -> tuple[str, bytes, list[dict]]:
        """The initial load: one insert per genesis id of every table, as
        binlog file 0, older than every later event."""
        r = rng(self.seed, _S_CDC, 0)
        events = [
            {"op": "insert", "db": CDC_DB, "table": t, "id": k,
             "data": json.dumps({"v": int(r.integers(1_000_000)), "s": "g"}),
             "ts": CDC_GENESIS_TS, "binlog_file": "mysql-bin.000000",
             "binlog_offset": 4 + 100 * (ti * self.genesis_rows + k)}
            for ti, t in enumerate(self.tables) for k in range(self.genesis_rows)
        ]
        return "mysql-bin.000000.json", _dump_lines(events), events

    def next_file(self) -> tuple[str, bytes, list[dict]]:
        """(file name, JSON-lines bytes, delivered events in file order)."""
        i = self.files_made
        self.files_made += 1
        r = rng(self.seed, _S_CDC, 1, i)
        name = f"mysql-bin.{i + 1:06d}"
        fresh = []
        tix = r.permutation(self._table_of_event)
        kinds = r.random(self.events)
        for j, t in enumerate(tix):
            t = int(t)
            if kinds[j] < 0.2:
                op, key = "insert", self._next_id[t]
                self._next_id[t] += 1
            else:
                op = "delete" if kinds[j] > 0.88 else "update"
                key = int(r.integers(self._next_id[t]))
            ts = CDC_T0 + timedelta(seconds=self._clock // 4)
            self._clock += 1
            fresh.append({
                "op": op, "db": CDC_DB, "table": self.tables[t], "id": key,
                "data": None if op == "delete" else json.dumps(
                    {"v": int(r.integers(1_000_000)), "s": op[0]}),
                "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                "binlog_file": name, "binlog_offset": 4 + 100 * j,
            })
        late = r.random(len(fresh)) < CDC_LATE_FRAC
        delivered = self._held + [e for e, hold in zip(fresh, late) if not hold]
        self._held = [e for e, hold in zip(fresh, late) if hold]
        dups = [e for e, d in zip(delivered, r.random(len(delivered)) < CDC_DUP_FRAC) if d]
        delivered = delivered + dups
        order = r.permutation(len(delivered))
        delivered = [delivered[k] for k in order]
        return name + ".json", _dump_lines(delivered), delivered
