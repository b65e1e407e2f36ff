"""Seeded input generation for the benchmark workloads.

The program never sees the seed: it receives only the files written here.

* ``write_tables`` writes the relational fixture tables (region, nation,
  customer, supplier, part, orders, lineitem, events) as single-row-group
  parquet files with the column names, types and value domains of the
  engine's query fixtures, so registered queries and their DuckDB oracle SQL
  run on them unchanged.
* ``ingest_fixture`` builds the teacher-candidate source rows, address rows,
  descriptor vocabularies and remote snapshot of the ``ingest_sync``
  workload, together with the outcome a correct run must produce.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REL_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "new", "green"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(1, len(df)))


def _days(rng: np.random.Generator, start: str, n: int, span: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def write_tables(out_dir: str, seed: int) -> None:
    """Write the relational tables under ``out_dir``, with the row counts of
    the engine's sf0.01 fixture."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    n_line = 4 * n_ord
    n_evt, n_users = 10000, 150

    frames: dict[str, pd.DataFrame] = {}
    frames["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    frames["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    frames["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    frames["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    frames["part"] = pd.DataFrame({
        "p_partkey": pkeys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 1),
    })
    frames["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", n_ord, 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    okeys = pd.Series(rng.integers(0, n_ord, n_line).astype(np.int64))
    frames["lineitem"] = pd.DataFrame({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        # (l_orderkey, l_linenumber) is a key, as the queries' total
        # ORDER BYs before a LIMIT assume
        "l_linenumber": (okeys.groupby(okeys).cumcount() + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", n_line, 2500),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    frames["events"] = pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    for name, df in frames.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))


# -- ingest_sync ------------------------------------------------------------

VOCABULARIES = ("sex", "academicSubject", "gradeLevel", "tppDegreeType")
_VOCAB_CODES = {
    "sex": ["F", "M", "X"],
    "academicSubject": ["Bilingual", "Mathematics", "Science", "Reading", "Art"],
    "gradeLevel": ["Postsecondary", "Ninth", "Tenth", "Eleventh", "Twelfth"],
    "tppDegreeType": ["BIS", "BA", "BS", "MAT"],
}
_STREETS = ["Oak St", "Elm Ave", "Main St", "Pine Rd", "Lake Dr"]
_CITIES = ["Austin", "Dallas", "Houston", "El Paso"]


@dataclass
class IngestFixture:
    """Inputs of one ingest run and the outcome a correct run produces."""

    candidates: pd.DataFrame  # detail rows, several per id (last row wins)
    addresses: pd.DataFrame  # address rows with overlapping periods
    vocab_rows: list[dict]  # codeValue/namespace rows, tagged by vocabulary
    snapshot_rows: list[dict]  # (teacherCandidateIdentifier, resource_id)
    expected_upserts: set[str] = field(default_factory=set)
    expected_deletes: set[str] = field(default_factory=set)
    expected_last_names: dict[str, str] = field(default_factory=dict)
    expected_addresses: int = 0  # distinct (id, street, city) after merging


def ingest_fixture(seed: int, n_ids: int) -> IngestFixture:
    """``n_ids`` candidates; a quarter of them get a second, later detail
    row; the remote snapshot holds about half of the ids plus ``n_ids / 8``
    keys absent from the source, which a correct run deletes."""
    rng = np.random.default_rng(seed)
    ids = [f"TC{seed % 1000:03d}{i:07d}" for i in range(n_ids)]
    dup = rng.random(n_ids) < 0.25

    def codes(name: str, n: int) -> np.ndarray:
        # one code in eight is outside the vocabulary (bare-code fallback)
        known = rng.choice(_VOCAB_CODES[name], n)
        return np.where(rng.random(n) < 0.125, "ZZ", known)

    rows = []
    last_names: dict[str, str] = {}
    for i, key in enumerate(ids):
        for order in ((1, 2) if dup[i] else (1,)):
            last = f"Last{rng.integers(0, 10**6):06d}"
            rows.append((key, f"First{i}", last, int(order)))
            last_names[key] = last  # the highest SRC_ORDER wins
    n_rows = len(rows)
    cand = pd.DataFrame(rows, columns=[
        "SPRIDEN_ID", "SPRIDEN_FIRST_NAME", "SPRIDEN_LAST_NAME", "SRC_ORDER"])
    cand["SRC_ORDER"] = cand["SRC_ORDER"].astype(np.int32)
    cand["SEX_CODE"] = codes("sex", n_rows)
    cand["BIRTH_DATE"] = pd.Series(
        _days(rng, "1980-01-01", n_rows, 9000)).dt.strftime("%Y-%m-%d")
    cand["SUBJECT_CODE"] = codes("academicSubject", n_rows)
    cand["GRADE_CODE"] = codes("gradeLevel", n_rows)
    cand["DEGREE_CODE"] = codes("tppDegreeType", n_rows)

    # 0-3 addresses per id; about half repeat with a later, overlapping
    # period (dedupe + period merge)
    n_addr = rng.integers(0, 4, n_ids)
    arows = []
    for key, k in zip(ids, n_addr):
        for _ in range(int(k)):
            street = f"{rng.integers(1, 999)} {rng.choice(_STREETS)}"
            city = str(rng.choice(_CITIES))
            begin = np.datetime64("2015-01-01") + int(rng.integers(0, 2000))
            end = begin + int(rng.integers(30, 400))
            arows.append((key, street, city, str(begin), str(end)))
            if rng.random() < 0.5:
                b2 = begin + int(rng.integers(1, 30))
                arows.append((key, street, city, str(b2), str(end + 90)))
    addr = pd.DataFrame(arows, columns=[
        "SPRIDEN_ID", "STREET", "CITY", "FROM_DATE", "TO_DATE"])

    vocab_rows = [
        {"vocabulary": name, "codeValue": code,
         "namespace": f"uri://ed-fi.org/{name[0].upper()}{name[1:]}Descriptor"}
        for name in VOCABULARIES for code in _VOCAB_CODES[name]
    ]
    remote = [k for k, keep in zip(ids, rng.random(n_ids) < 0.5) if keep]
    ghosts = [f"GHOST{seed % 1000:03d}{i:07d}" for i in range(n_ids // 8)]
    snapshot = [
        {"teacherCandidateIdentifier": k, "resource_id": f"res-{k}"}
        for k in remote + ghosts
    ]
    return IngestFixture(
        candidates=cand,
        addresses=addr,
        vocab_rows=vocab_rows,
        snapshot_rows=snapshot,
        expected_upserts=set(ids),
        expected_deletes={f"res-{k}" for k in ghosts},
        expected_last_names=last_names,
        expected_addresses=len({r[:3] for r in arows}),
    )
