"""Seeded input generators. The same seed always gives the same inputs.

The program under test only ever receives what these produce: protobuf
payload bytes served over the gRPC socket, parquet tables written to the
run's data directory, and the staged rows of each txlog upsert.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hephaestus_spark.sources import protodecode as pc

CHANGED_FRAC = 0.01  # share of employees a changed snapshot edits
LAKE_UPDATES, LAKE_INSERTS, LAKE_WINDOW = 500, 50, 5000  # one txlog upsert

FIRST = ["anna", "bohdan", "chen", "daria", "emil", "fatima", "georg", "hana",
         "ivan", "jana", "kyrylo", "lena", "marco", "nadia", "oleh", "petra",
         "quinn", "roman", "sofia", "taras", "uma", "viktor", "wanda", "yuri"]
LAST = ["kovalenko", "smith", "novak", "garcia", "muller", "tanaka", "bondar",
        "rossi", "dubois", "silva", "ivanova", "kim", "horvat", "nielsen",
        "popescu", "yilmaz", "moreau", "shevchenko", "lopez", "weber"]
POSITIONS = ["engineer", "technician", "dispatcher", "manager", "installer",
             "support", "analyst", "lead"]
WORDS = ["a", "the", "row", "scan", "table", "value", "part", "hash", "merge",
         "batch", "spark", "line", "sort", "window", "key", "agg", "join", "data",
         "column", "query", "order", "group", "stream", "filter", "vector",
         "customer", "small", "big", "fast", "slow"]


# --------------------------------------------------------------------------
# employee snapshot feed
# --------------------------------------------------------------------------


class EmployeeFeed:
    """The upstream employee snapshot. ``change()`` edits CHANGED_FRAC of the
    rows (position, email or phone), drops a few employees from the feed
    and adds as many new ones; ``payloads()`` is the snapshot as
    protobuf bytes, ordered by id. About 10% of emails are invalid and
    most phones carry spaces and hyphens that cleaning strips."""

    def __init__(self, seed: int, n: int):
        self._rng = random.Random(seed)
        self._next_id = 1
        self.rows: dict[int, dict] = {}
        for _ in range(n):
            self._add()

    def _add(self) -> None:
        i = self._next_id
        self._next_id += 1
        first, last = self._rng.choice(FIRST), self._rng.choice(LAST)
        self.rows[i] = {
            "id": i,
            "fullname": f"{first.title()} {last.title()}",
            "shortname": f"{first[0]}{last}{i}",
            "position": self._rng.choice(POSITIONS),
            "email": self._email(first, last, i),
            "phone": self._phone(),
        }

    def _email(self, first: str, last: str, i: int) -> str:
        if self._rng.random() < 0.10:
            return self._rng.choice(
                ["", f"{first}.{last}", f"{first}@@corp.example.com",
                 f"{first}@corp", f"{first} {last}@corp.example.com"]
            )
        return f"{first}.{last}{i}@corp{i % 7}.example.com"

    def _phone(self) -> str:
        r = self._rng.random()
        digits = "".join(str(self._rng.randrange(10)) for _ in range(9))
        if r < 0.05:
            return self._rng.choice(["", "call reception", "12-ab-34"])
        if r < 0.15:
            return f"+380{digits}"
        return f"+380 {digits[:2]} {digits[2:5]}-{digits[5:7]}-{digits[7:]}"

    def change(self) -> None:
        ids = sorted(self.rows)
        k = max(1, int(len(ids) * CHANGED_FRAC))
        for i in self._rng.sample(ids, k):
            row = self.rows[i]
            col = self._rng.choice(["position", "email", "phone"])
            if col == "position":
                row["position"] = self._rng.choice(
                    [p for p in POSITIONS if p != row["position"]]
                )
            elif col == "email":
                first, last = row["fullname"].lower().split(" ")
                row["email"] = f"{first}.{last}{i}.{self._rng.randrange(10**6)}@corp.example.com"
            else:
                row["phone"] = self._phone()
        for i in self._rng.sample(ids, max(1, k // 20)):
            del self.rows[i]
        for _ in range(max(1, k // 20)):
            self._add()

    def payloads(self) -> list[bytes]:
        return [
            pc.encode_message(self.rows[i], pc.EMPLOYEE_FIELDS)
            for i in sorted(self.rows)
        ]


# --------------------------------------------------------------------------
# txlog upserts and lookups
# --------------------------------------------------------------------------


def lake_row(key: int) -> tuple:
    """Initial content of a lake row (before any upsert touches it)."""
    return (key, f"r{key}", key / 2)


class LakeDeltas:
    """Upsert batches for a key-clustered table whose ``n_rows`` initial
    keys are the even numbers ``0, 2, .. 2*(n_rows-1)``, written as
    ``n_files`` files of equal contiguous key ranges. Batch k picks one
    window of LAKE_WINDOW consecutive initial keys inside the range of
    file ``(k-1) % n_files``, updates LAKE_UPDATES of them and inserts
    LAKE_INSERTS new odd keys inside the same window, so one batch spans
    one narrow key range (a clustered daily delta) and every seed gives
    the table the same file layout. ``latest`` holds every key a batch
    wrote."""

    def __init__(self, seed: int, n_rows: int, n_files: int):
        self._rng = random.Random(seed)
        self.n_rows, self.n_files = n_rows, n_files
        self.latest: dict[int, tuple] = {}
        self._batch = 0

    def row(self, key: int) -> tuple | None:
        if key in self.latest:
            return self.latest[key]
        return lake_row(key) if key % 2 == 0 and 0 <= key < 2 * self.n_rows else None

    def upsert(self) -> list[tuple]:
        self._batch += 1
        per_file = self.n_rows // self.n_files
        window = min(LAKE_WINDOW, per_file)
        first = (self._batch - 1) % self.n_files * per_file
        start = first + self._rng.randrange(0, per_file - window + 1)
        lo, hi = 2 * start, 2 * (start + window)
        updated = self._rng.sample(range(lo, hi, 2), LAKE_UPDATES)
        free = [k for k in range(lo + 1, hi, 2) if k not in self.latest]
        inserted = self._rng.sample(free, LAKE_INSERTS)
        rows = [(k, f"u{self._batch}-{k}", self._rng.random() * 1000) for k in updated]
        rows += [(k, f"i{self._batch}-{k}", float(k)) for k in inserted]
        for r in rows:
            self.latest[r[0]] = r
        return rows

    def lookup_key(self) -> int:
        """A random live key: an initial one, or one an upsert wrote."""
        if self.latest and self._rng.random() < 0.5:
            return self._rng.choice(sorted(self.latest))
        return 2 * self._rng.randrange(self.n_rows)


# --------------------------------------------------------------------------
# analytics tables for the headline queries
# --------------------------------------------------------------------------


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten analytics tables (the same schemas and value domains
    as the repository's TPC-H-like test data) at ``scale`` (1.0 = 6M
    lineitems). Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(50_000 * scale)
    n_users = max(10, int(15_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {n}" for a in adjectives for n in nouns])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
