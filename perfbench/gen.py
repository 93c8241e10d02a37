"""Seeded input generators for the three workloads.

Plain Python and pyarrow only: nothing here starts Spark, so input
generation stays outside ``setup_s``. The same seed gives byte-identical
files; every generator also returns the planted truth its check needs.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEADERS = ("Name", "Address", "Postcode", "Phone", "Credit Limit", "Birthday")

# latin1 letters outside ASCII, so the ISO-8859-1 decode path is exercised
_LATIN1 = "ÄÖÜäöüßéèêçñøåæÆØÅ"
_FIRST = ["Jan", "Piet", "Anna", "Sofie", "Jürgen", "Zoë", "Søren", "Lærke", "José", "Renée"]
_STREETS = ["Voorstraat", "Dorpsplein", "Mendelssohnstraat", "Straße", "Rue Érable", "Kirkegårdsvej"]


def _person(rng: random.Random, i: int):
    last = "".join(rng.choice("abcdefghijklmnoprstuvw" + _LATIN1) for _ in range(rng.randint(4, 9)))
    name = f"{last.capitalize()}{i}, {rng.choice(_FIRST)}"
    address = f"{rng.choice(_STREETS)} {rng.randint(1, 400)}{rng.choice(['', 'A', 'b', 'zwart'])}"
    if rng.random() < 0.3:  # a quoted comma inside a field that is not the name
        address += f", bus {rng.randint(1, 9)}"
    postcode = f"{rng.randint(1000, 9999)}{rng.choice(['', ' '])}{rng.choice('ABCDEFGHJK')}{rng.choice('abcdefghjk')}"
    phone = rng.choice([
        f"0{rng.randint(10, 99)} {rng.randint(1000000, 9999999)}",
        f"0{rng.randint(100, 999)}-{rng.randint(100000, 999999)}",
        f"+{rng.randint(1, 99)} {rng.randint(100, 999)} {rng.randint(100000, 999999)}",
    ])
    cents = rng.randint(0, 5_000_000)
    birthday = (rng.randint(1940, 2005), rng.randint(1, 12), rng.randint(1, 28))
    return name, address, postcode, phone, cents, birthday


def _csv_money(rng: random.Random, cents: int) -> str:
    units, frac = divmod(cents, 100)
    if frac == 0 and rng.random() < 0.5:
        return str(units)
    sep = rng.choice([".", ","])  # "," is the decimal comma, so it is quoted
    text = f"{units}{sep}{frac:02d}"
    return f'"{text}"' if sep == "," else text


def _csv_birthday(rng: random.Random, ymd) -> str:
    y, m, d = ymd
    return rng.choice([f"{d:02d}/{m:02d}/{y}", f"{d}/{m}/{y}", f"{y}-{m}-{d}"])


def translate_rows(seed: int, n_rows: int):
    """Return (rows, canonical): raw people and the normalized rows the
    engine must emit for them, in input order."""
    rng = random.Random(seed)
    rows = [_person(rng, i) for i in range(n_rows)]
    canonical = []
    for name, address, postcode, phone, cents, (y, m, d) in rows:
        digits = "".join(ch for ch in phone if ch.isdigit())
        canonical.append({
            "Name": name,
            "Address": address,
            "Postcode": postcode.replace(" ", "").upper(),
            "Phone": ("+" + digits) if phone.startswith("+") else digits,
            "Credit Limit": f"{cents // 100}.{cents % 100:02d}",
            "Birthday": f"{y:04d}-{m:02d}-{d:02d}",
        })
    return rows, canonical


def write_translate_pair(seed: int, n_rows: int, out_dir: str):
    """Write ``people.csv`` and ``people.prn`` (latin1) holding the same
    rows in the two dialects. Returns (csv_path, prn_path, canonical)."""
    rng = random.Random(seed ^ 0x5EED)
    rows, canonical = translate_rows(seed, n_rows)
    csv_lines = [",".join(HEADERS)]
    prn_cells = []
    for name, address, postcode, phone, cents, (y, m, d) in rows:
        addr = f'"{address}"' if "," in address else address
        csv_lines.append(",".join([
            f'"{name}"', addr, postcode, phone,
            _csv_money(rng, cents), _csv_birthday(rng, (y, m, d)),
        ]))
        prn_cells.append((name, address, postcode, phone, str(cents), f"{y:04d}{m:02d}{d:02d}"))
    widths = [
        max([len(h)] + [len(r[c]) for r in prn_cells]) + 1
        for c, h in enumerate(HEADERS)
    ]

    def fixed(cells):
        return "".join(c.ljust(w) for c, w in zip(cells, widths)).rstrip()

    prn_lines = [fixed(HEADERS)] + [fixed(r) for r in prn_cells]
    os.makedirs(out_dir, exist_ok=True)
    csv_path = os.path.join(out_dir, "people.csv")
    prn_path = os.path.join(out_dir, "people.prn")
    for path, lines in ((csv_path, csv_lines), (prn_path, prn_lines)):
        with open(path, "wb") as f:
            f.write(("\n".join(lines) + "\n").encode("latin1"))
    return csv_path, prn_path, canonical


# --- query: TPC-H-ish star schema plus the document/embedding tables ---

# 0.01 would give 60k lineitem rows, like the repository's sf0.01 fixture
QUERY_SCALE = 0.005

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_WORDS = (["blue", "red", "small", "large", "green"], ["anvil", "ring", "widget", "bolt", "gear"])
_PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
_DOC_WORDS = (
    "the a fast slow big small key order sort table scan merge part window hash join "
    "batch stream spark dup group query row data filter customer line value agg column "
    "vector"
).split()


def _ts(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write_query_tables(seed: int, out_dir: str) -> None:
    """Write the ten-table layout the query entries read (``events`` is
    not read by the benchmarked entries and is left out), at
    ``QUERY_SCALE``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * QUERY_SCALE), int(10_000 * QUERY_SCALE)
    n_part, n_ord = int(200_000 * QUERY_SCALE), int(1_500_000 * QUERY_SCALE)
    n_line = int(6_000_000 * QUERY_SCALE)
    n_doc = n_emb = int(50_000 * QUERY_SCALE)
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_WORDS[0][a]} {_PART_WORDS[1][b]}"
                for a, b in zip(rng.integers(0, 5, n_part), rng.integers(0, 5, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _ts(rng, n_ord),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(rng, n_line, "1995-01-02"),
        },
    }
    texts = [
        " ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), rng.integers(8, 90)))
        for _ in range(n_doc)
    ]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr", "es", "zh")[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 1.2, (n_emb, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# --- ingest: a landing directory with planted duplicates ---

class IngestTraffic:
    """Seeded document stream with planted duplicates.

    Each batch mixes novel documents with exact re-submissions (same
    text, new id) and near duplicates (the last word of an earlier
    document replaced, shingle Jaccard ~0.95). Duplicates always point at
    documents the corpus already holds, so the verdict of the dedup gates
    is known in advance: ``kept`` lists the ids they must keep.
    Paraphrases (reordered words) are not planted: only the semantic
    gate drops them, and the benchmark does not run it."""

    EXACT_SHARE = NEAR_SHARE = 0.10
    VOCAB, MIN_WORDS, MAX_WORDS = 20_000, 40, 120

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.words = [f"w{i}" for i in range(self.VOCAB)]
        self.next_id = 1
        self.stored: list[str] = []  # texts the corpus holds (novel docs so far)
        self.kept: list[int] = []
        self.dropped: list[int] = []

    def _novel(self) -> str:
        n = self.rng.randint(self.MIN_WORDS, self.MAX_WORDS)
        return " ".join(self.rng.choice(self.words) for _ in range(n))

    def batch(self, size: int, duplicates: bool = True) -> list[tuple[int, str]]:
        rows, novel = [], []
        for _ in range(size):
            doc_id, self.next_id = self.next_id, self.next_id + 1
            u = self.rng.random() if duplicates and self.stored else 1.0
            if u < self.EXACT_SHARE:
                text = self.rng.choice(self.stored)
            elif u < self.EXACT_SHARE + self.NEAR_SHARE:
                toks = self.rng.choice(self.stored).split()
                toks[-1] = self.rng.choice(self.words)
                text = " ".join(toks)
            else:
                text = self._novel()
                novel.append(text)
                self.kept.append(doc_id)
                rows.append((doc_id, text))
                continue
            self.dropped.append(doc_id)
            rows.append((doc_id, text))
        # duplicates only ever point at documents committed by an EARLIER
        # batch, so within-batch order cannot change the verdict
        self.stored.extend(novel)
        return rows


def write_landing_file(path: str, rows: list[tuple[int, str]], mtime: float) -> None:
    """One parquet landing file; ``mtime`` orders it for the file source."""
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
    })
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))
