"""Seeded input generators for the benchmark.

Everything the program reads during a run is produced here from the run's
``--seed``; the same seed and scale give the same bytes.

* ``write_tables`` writes the star schema plus ``events``, ``documents`` and
  ``embeddings`` as one parquet file per table, with the column names, types
  and value distributions of the testdata tables the registry is written
  against (TESTDATA.md). Row counts scale with ``sf`` like TPC-H.
* ``loinc_zips`` builds the two LOINC downloads (``Loinc.csv`` and
  ``MultiAxialHierarchy.csv``, each inside a zip) at the reference's size,
  for the ``etl_load`` workload.
"""

from __future__ import annotations

import csv
import io
import os
import zipfile

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
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

#: share of documents that copy an earlier document plus the word "dup", as
#: in the testdata: the near duplicates dedup must find. Their word-3-gram
#: Jaccard is mostly 0.8 or more while unrelated documents stay near 0, the
#: gap the registry's LSH queries rely on for exact recall.
DOC_COPY_SHARE = 0.05

def _day_range(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def table_sizes(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (testdata proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    docs: list[list[str]] = []
    for i in range(n):
        if i and rng.random() < DOC_COPY_SHARE:
            words = docs[int(rng.integers(0, i))] + ["dup"]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        docs.append(words)
    return [" ".join(w) for w in docs]


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table the workloads read; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    keys = np.arange(npart)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": pa.array(_day_range(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(_day_range(rng, "1995-01-02", "2001-11-04", nl)),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    texts = _documents(rng, nd)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{k % 20}" for k in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return n


# --------------------------------------------------------------------------
# LOINC downloads for etl_load
# --------------------------------------------------------------------------

#: reference size: about 10^5 LOINC codes, a hierarchy file of about 26 MB
LOINC_CODES = 100_000
#: LP part codes forming the multi-axial tree the codes hang under
LOINC_PARTS = 12_000
#: path depth of a part below the root, as P(depth = 1..12)
PART_DEPTH_P = [0.01, 0.02, 0.04, 0.07, 0.1, 0.13, 0.15, 0.15, 0.13, 0.1, 0.06, 0.04]
#: share of codes placed a second time, under another parent (last row wins)
DUP_CODE_SHARE = 0.55
#: share of second placements whose path ends in an ancestor absent from the
#: hierarchy (the name falls back to the code)
MISSING_ANCESTOR_SHARE = 0.02
#: shares of codes with a NULL COMPONENT, and with a NULL METHOD_TYP
NULL_COMPONENT_SHARE = 0.05
NULL_METHOD_SHARE = 0.3
#: share of parts with a blank CODE_TEXT: an LP row's C_NAME is its CODE_TEXT,
#: so these rows fail the NOT NULL filter
BLANK_PART_TEXT_SHARE = 0.05
#: share of codes with no placement at all (dropped by the inner join)
UNPLACED_SHARE = 0.01

LOINC_HEADER = [
    "LOINC_NUM", "COMPONENT", "PROPERTY", "TIME_ASPCT",
    "SYSTEM", "SCALE_TYP", "METHOD_TYP", "STATUS",
]
HIERARCHY_HEADER = ["PATH_TO_ROOT", "SEQUENCE", "IMMEDIATE_PARENT", "CODE", "CODE_TEXT"]
_COMPONENTS = ["Hemoglobin", "Glucose", "Sodium", "Potassium", "Creatinine",
               "Albumin", "Bilirubin", "Cholesterol", "Ferritin", "Lactate"]
_PROPERTIES = ["MCnc", "SCnc", "MFr", "NFr", "ACnc", "PrThr", "Type"]
_SYSTEMS = ["Bld", "Ser", "Plas", "Urine", "CSF", "Ser/Plas"]
_SCALES = ["Qn", "Ord", "Nom", "Nar"]
_METHODS = ["Automated count", "Test strip", "Calculated", "Immunoassay"]
_STATUSES = ["ACTIVE", "ACTIVE", "ACTIVE", "DEPRECATED", "TRIAL"]


def _csv(header: list[str], rows) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def _zip(member: str, payload: bytes) -> bytes:
    buf = io.BytesIO()
    # fixed timestamp: the archive bytes depend on the seed only
    info = zipfile.ZipInfo(member, date_time=(1980, 1, 1, 0, 0, 0))
    info.compress_type = zipfile.ZIP_DEFLATED
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(info, payload)
    return buf.getvalue()


def loinc_tables(seed: int, n_codes: int = LOINC_CODES, n_parts: int = LOINC_PARTS):
    """LOINC-shaped rows: (loinc rows, hierarchy rows in file order)."""
    rng = np.random.default_rng(seed)
    parts = [f"LP{100000 + k}-{k % 10}" for k in range(n_parts)]
    # parts in order of depth; each hangs under a random part one level up
    depth = np.sort(rng.choice(np.arange(1, 13), n_parts, p=PART_DEPTH_P))
    first = {int(d): int(np.searchsorted(depth, d)) for d in np.unique(depth)}
    paths: list[str] = []
    hier: list[tuple] = []
    for k, code in enumerate(parts):
        d = int(depth[k])
        if d - 1 in first:
            p = int(rng.integers(first[d - 1], first[d]))
            path = (paths[p] + "." + parts[p]).lstrip(".")
        else:
            path = ""
        paths.append(path)
        parent = path.rsplit(".", 1)[-1] if path else None
        text = "" if rng.random() < BLANK_PART_TEXT_SHARE else f"{_COMPONENTS[k % 10]} part {k}"
        hier.append((path, k % 97, parent, code, text))

    codes = [f"{10000 + k}-{k % 10}" for k in range(n_codes)]
    comp = rng.integers(0, len(_COMPONENTS), n_codes)
    loinc = []
    for k, code in enumerate(codes):
        loinc.append((
            code,
            None if rng.random() < NULL_COMPONENT_SHARE else f"{_COMPONENTS[comp[k]]}.{k % 50}",
            _PROPERTIES[k % len(_PROPERTIES)],
            "Pt",
            _SYSTEMS[k % len(_SYSTEMS)],
            _SCALES[int(rng.integers(0, 4))],
            None if rng.random() < NULL_METHOD_SHARE else _METHODS[k % len(_METHODS)],
            _STATUSES[int(rng.integers(0, len(_STATUSES)))],
        ))
    # every part is also a row of the code table (the LP branch of C_NAME)
    loinc += [(p, None, None, None, None, "Ord", None, "ACTIVE") for p in parts]
    leaf_parts = np.flatnonzero(depth >= 5)
    placed = rng.random(n_codes) >= UNPLACED_SHARE
    second: list[tuple] = []
    for k, code in enumerate(codes):
        if not placed[k]:
            continue
        text = (f"{_COMPONENTS[comp[k]]} {k % 50} [{_PROPERTIES[k % 7]}] in "
                f"{_SYSTEMS[k % 6]} by {_METHODS[k % 4]}")
        p = int(leaf_parts[int(rng.integers(0, len(leaf_parts)))])
        path = (paths[p] + "." + parts[p]).lstrip(".")
        hier.append((path, k % 31, parts[p], code, text))
        if rng.random() < DUP_CODE_SHARE:
            q = int(leaf_parts[int(rng.integers(0, len(leaf_parts)))])
            if rng.random() < MISSING_ANCESTOR_SHARE:
                tail = f"LP9{k:06d}-0"  # ancestor never placed itself
            else:
                tail = parts[q]
            path2 = (paths[q] + "." + tail).lstrip(".")
            second.append((path2, k % 31, tail, code, text))
    # second placements come after all first ones in file order: they win
    hier.extend(second)
    return loinc, hier


def loinc_zips(seed: int, **sizes) -> dict[str, bytes]:
    """The two downloads as zip bytes, keyed by member name."""
    loinc, hier = loinc_tables(seed, **sizes)
    csv_rows = [["" if v is None else v for v in r] for r in hier]
    return {
        "Loinc.csv": _zip("Loinc.csv", _csv(LOINC_HEADER, loinc)),
        "MultiAxialHierarchy.csv": _zip("MultiAxialHierarchy.csv", _csv(HIERARCHY_HEADER, csv_rows)),
    }
