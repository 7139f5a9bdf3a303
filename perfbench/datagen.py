"""Seeded input generators for the benchmark.

Two kinds of input, both made only from a seed and written under a
directory the caller owns:

- ``write_star_schema``: the ten tables the query registry reads
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), one parquet file each, with the schemas and
  value distributions of the synthetic star schema the registry was
  written against (uniform keys and measures, 30-word documents with 5%
  near-duplicates, unit-norm 64-d embeddings with a weak label signal).
- ``IngestBatches``: incremental batches for ``framework.run``. Each
  batch has three sources (orders as CSV with planted malformed lines,
  lineitem as parquet keyed by ``(l_orderkey, l_linenumber)``, events as
  JSON lines). A fixed share of each batch re-sends keys of earlier
  batches with new values, so the HUB upsert has updates to apply.
  The generator remembers every key it sent, which is what the output
  checks compare the lake against.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

EPOCH = dt.datetime(1970, 1, 1)
ORDER_DAY0 = (dt.datetime(1995, 1, 1) - EPOCH).days
ORDER_DAYS = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
SHIP_DAY0 = (dt.datetime(1995, 1, 2) - EPOCH).days
SHIP_DAYS = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
EVENT_US0 = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
EVENT_SPAN_US = 30 * 86_400_000_000


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def orders_table(
    rng: np.random.Generator, keys: np.ndarray, n_customers: int
) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _days_to_ts(ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, n)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def lineitem_table(
    rng: np.random.Generator,
    orderkeys: np.ndarray,
    linenumbers: np.ndarray,
    n_parts: int,
    n_suppliers: int,
) -> pa.Table:
    n = len(orderkeys)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_suppliers, n), pa.int64()),
            "l_linenumber": pa.array(linenumbers, pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _days_to_ts(SHIP_DAY0 + rng.integers(0, SHIP_DAYS + 1, n)),
        }
    )


def events_table(rng: np.random.Generator, keys: np.ndarray, n_users: int) -> pa.Table:
    n = len(keys)
    ts = EVENT_US0 + np.sort(rng.integers(0, EVENT_SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(keys, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    texts, at = [], 0
    for ln in lengths.tolist():
        texts.append(" ".join(vocab[words[at : at + ln]]))
        at += ln
    # 5% of documents copy an earlier-generated document and append a
    # marker word: the near-duplicate pairs the dedup operators look for.
    for i in rng.choice(n, max(1, n // 20), replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def star_sizes(sf: float) -> dict[str, int]:
    """Row counts of the star schema at scale factor ``sf``."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "users": max(5, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``; same seed, same tables."""
    rng = np.random.default_rng(seed)
    z = star_sizes(sf)
    n_cust, n_supp, n_part = z["customer"], z["supplier"], z["part"]
    nations = np.arange(25)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nations, pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in nations.tolist()]),
                "n_regionkey": pa.array(nations % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array(_names("Customer", np.arange(n_cust))),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array(_names("Supplier", np.arange(n_supp))),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part).tolist(),
                            rng.integers(0, 8, n_part).tolist(),
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": orders_table(rng, np.arange(z["orders"]), n_cust),
        "lineitem": lineitem_table(
            rng,
            rng.integers(0, z["orders"], z["lineitem"]),
            rng.integers(1, 8, z["lineitem"]),
            n_part,
            n_supp,
        ),
        "events": events_table(rng, np.arange(z["events"]), z["users"]),
        "documents": documents_table(rng, z["documents"]),
        "embeddings": embeddings_table(rng, z["embeddings"]),
    }


def write_star_schema(out_dir: str, seed: int, sf: float) -> None:
    """Write the star schema as ``{out_dir}/{table}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- incremental ingestion batches -------------------------------------------

ORDERS_CSV_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate STRING, o_orderpriority STRING, "
    "_corrupt_record STRING"
)
# A malformed line has a non-numeric key and too few fields: a PERMISSIVE
# read with the schema above captures it whole in `_corrupt_record`.
MALFORMED_LINE = "not-a-key,{i},garbled"
MALFORMED_PER_BATCH = 5
UPDATE_SHARE = 0.1  # of each entity's rows per batch, re-sending earlier keys


@dataclass
class Batch:
    """One generated batch: its index, its sources file and its input size."""

    index: int
    yaml_path: str
    source_bytes: int


@dataclass
class IngestBatches:
    """Seeded generator of incremental batches for ``framework.run``.

    ``rows`` is the number of orders per batch; each batch also carries
    four lineitems and two events per order. After the first batch,
    ``UPDATE_SHARE`` of every entity's rows re-send keys sent before, and
    ``MALFORMED_PER_BATCH`` lines are planted in every orders file.
    """

    root: str
    seed: int
    rows: int
    keys_sent: dict[str, set] = field(init=False)
    rows_sent: dict[str, int] = field(init=False)
    malformed_sent: int = field(init=False, default=0)
    _next: dict[str, int] = field(init=False)

    HUB_KEYS = {
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey", "l_linenumber"],
        "events": ["event_id"],
    }
    ENTITIES = tuple(HUB_KEYS)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.keys_sent = {e: set() for e in self.ENTITIES}
        self.rows_sent = dict.fromkeys(self.ENTITIES, 0)
        self._next = dict.fromkeys(self.ENTITIES, 0)

    @property
    def lake(self) -> str:
        return os.path.join(self.root, "lake")

    def _fresh_and_old(self, entity: str, n: int) -> np.ndarray:
        """``n`` distinct keys: earlier keys first, then never-sent ones."""
        sent = self.keys_sent[entity]
        n_old = min(int(round(n * UPDATE_SHARE)), len(sent))
        old = (
            self.rng.choice(np.fromiter(sent, "int64", len(sent)), n_old, replace=False)
            if n_old
            else np.empty(0, "int64")
        )
        start = self._next[entity]
        self._next[entity] = start + n - n_old
        return np.concatenate([old, np.arange(start, start + n - n_old)])

    def next_batch(self, index: int) -> Batch:
        rng = self.rng
        bdir = os.path.join(self.root, "in", f"b{index:03d}")
        os.makedirs(bdir, exist_ok=True)
        n_orders = self.rows

        okeys = self._fresh_and_old("orders", n_orders)
        orders = orders_table(rng, okeys, 10_000)
        csv_path = os.path.join(bdir, "orders.csv")
        cols = orders.to_pydict()
        lines = [
            "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority"
        ]
        for k, c, s, p, d, pr in zip(*cols.values()):
            lines.append(f"{k},{c},{s},{p},{d:%Y-%m-%d},{pr}")
        bad_at = sorted(rng.choice(np.arange(1, n_orders + 1), MALFORMED_PER_BATCH, replace=False).tolist())
        for j, at in enumerate(reversed(bad_at)):
            lines.insert(at, MALFORMED_LINE.format(i=j))
        with open(csv_path, "w") as f:
            f.write("\n".join(lines) + "\n")

        # lineitem keys are composite: an earlier (orderkey, linenumber)
        # pair is re-sent as one unit, so its id is orderkey * 8 + linenumber.
        lkeys = self._fresh_and_old("lineitem", 4 * n_orders)
        lineitem = lineitem_table(rng, lkeys // 8, (lkeys % 8).astype("int32"), 20_000, 1_000)
        pq_path = os.path.join(bdir, "lineitem.parquet")
        pq.write_table(lineitem, pq_path)

        ekeys = self._fresh_and_old("events", 2 * n_orders)
        events = events_table(rng, ekeys, 1_500).to_pydict()
        json_path = os.path.join(bdir, "events.json")
        with open(json_path, "w") as f:
            for row in zip(*events.values()):
                rec = dict(zip(events, row))
                rec["ts"] = rec["ts"].isoformat()
                f.write(json.dumps(rec) + "\n")

        for entity, keys in (("orders", okeys), ("lineitem", lkeys), ("events", ekeys)):
            self.keys_sent[entity].update(keys.tolist())
            self.rows_sent[entity] += len(keys)
        self.malformed_sent += MALFORMED_PER_BATCH

        yaml_path = os.path.join(bdir, "sources.yaml")
        with open(yaml_path, "w") as f:
            json.dump(self._sources(csv_path, pq_path, json_path), f)
        return Batch(
            index=index,
            yaml_path=yaml_path,
            source_bytes=sum(os.path.getsize(p) for p in (csv_path, pq_path, json_path)),
        )

    def _sources(self, csv_path: str, pq_path: str, json_path: str) -> dict:
        # YAML is a superset of JSON, so `load_sources` reads this as is.
        return {
            "version": 1,
            "defaults": {
                "raw_base": os.path.join(self.lake, "raw"),
                "hub_base": os.path.join(self.lake, "hub"),
                "checkpoint_base": os.path.join(self.lake, "checkpoints"),
            },
            "sources": [
                {
                    "id": "orders_csv",
                    "type": "csv",
                    "domain": "sales",
                    "entity": "orders",
                    "options": {
                        "path": csv_path,
                        "header": True,
                        "mode": "PERMISSIVE",
                        "schema": ORDERS_CSV_SCHEMA,
                        "columnNameOfCorruptRecord": "_corrupt_record",
                    },
                    "hub_primary_keys": self.HUB_KEYS["orders"],
                },
                {
                    "id": "lineitem_parquet",
                    "type": "parquet",
                    "domain": "sales",
                    "entity": "lineitem",
                    "options": {"path": pq_path},
                    "hub_primary_keys": self.HUB_KEYS["lineitem"],
                },
                {
                    "id": "events_json",
                    "type": "json",
                    "domain": "web",
                    "entity": "events",
                    "options": {"path": json_path},
                    "hub_primary_keys": self.HUB_KEYS["events"],
                },
            ],
        }

    def hub_path(self, entity: str) -> str:
        domain = "web" if entity == "events" else "sales"
        return os.path.join(self.lake, "hub", domain, entity)

    def raw_path(self, entity: str) -> str:
        domain = "web" if entity == "events" else "sales"
        return os.path.join(self.lake, "raw", domain, entity)

    @property
    def quarantine_path(self) -> str:
        return os.path.join(self.lake, "raw_quarantine", "sales", "orders")
