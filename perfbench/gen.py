"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from the run's
seed: the same seed gives byte-identical files, a different seed gives
different content with the same row and file counts.

- :func:`write_tables` writes the ten tables the query inventory reads
  (``region`` ... ``embeddings``), with the schemas and value domains of
  the project's test data, at a chosen scale.
- :func:`write_corpus` writes a Traffic_Signs-style corpus (quoted CSV
  lines mixed with prose lines) split into K chunk files, the shape the
  RainStorm leader hands its workers.
- :func:`events_frame` builds one file of the live event stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts at scale 1.0 (the project's sf0.01 test-data sizes)
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so adding a table never
    shifts another table's values."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, base: np.datetime64, span: int, n: int) -> np.ndarray:
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def write_table(table: pa.Table, path: str) -> None:
    # fixed writer settings and no pandas metadata: byte-identical
    # output for identical tables
    pq.write_table(table, path, compression="snappy", store_schema=False)


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    n = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )

    r = _rng(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), i64),
            "c_name": pa.array([f"Customer#{j:09d}" for j in range(k)], s),
            "c_nationkey": pa.array(r.integers(0, 25, k), i32),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k), f64),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, k), s),
        }
    )

    r = _rng(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), i64),
            "s_name": pa.array([f"Supplier#{j:09d}" for j in range(k)], s),
            "s_nationkey": pa.array(r.integers(0, 25, k), i32),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k), f64),
        }
    )

    r = _rng(seed, "part")
    k = n["part"]
    names = [f"{a} {b}" for a, b in zip(r.choice(PART_ADJ, k), r.choice(PART_NOUN, k))]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), i64),
            "p_name": pa.array(names, s),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)], s),
            "p_type": pa.array(r.choice(PART_TYPES, k), s),
            "p_size": pa.array(r.integers(1, 51, k), i32),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1), f64
            ),
        }
    )

    r = _rng(seed, "orders")
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), i64),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), i64),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], k), s),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, k), f64),
            "o_orderdate": pa.array(_days(r, _EPOCH_1995, 2400, k), pa.timestamp("us")),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, k), s),
        }
    )

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k), i64),
            "l_partkey": pa.array(r.integers(0, n["part"], k), i64),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), i64),
            "l_linenumber": pa.array(r.integers(1, 8, k), i32),
            "l_quantity": pa.array(r.integers(1, 51, k).astype(float), f64),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, k), f64),
            "l_discount": pa.array(r.integers(0, 11, k) / 100.0, f64),
            "l_tax": pa.array(r.integers(0, 9, k) / 100.0, f64),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], k), s),
            "l_linestatus": pa.array(r.choice(["F", "O"], k), s),
            "l_shipdate": pa.array(
                _days(r, _EPOCH_1995 + np.timedelta64(1, "D"), 2500, k),
                pa.timestamp("us"),
            ),
        }
    )

    out["events"] = events_table(
        _rng(seed, "events"), 0, n["events"], n_users=max(10, n["customer"] // 10)
    )

    r = _rng(seed, "documents")
    k = n["documents"]
    texts = []
    for j in range(k):
        # ~5% near-duplicates of an earlier document (the dedup families
        # need some), marked the way the project's test data marks them
        if j > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, j))] + " dup")
        else:
            texts.append(" ".join(r.choice(DOC_WORDS, int(r.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(r.choice(LANGS, k, p=LANG_P), s),
            "source": pa.array([f"src{j % 20}" for j in range(k)], s),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    labels = r.integers(0, 10, k)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 1.5, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def events_table(
    r: np.random.Generator, first_id: int, k: int, n_users: int = 150,
    start: np.datetime64 = _EPOCH_2024, span_s: int = 30 * 86400,
) -> pa.Table:
    """``k`` events with ids from ``first_id``, ts ascending over
    ``span_s`` seconds after ``start`` (microsecond precision)."""
    offs = np.sort(r.integers(0, span_s * 1_000_000, k))
    values = np.maximum(np.round(r.exponential(50.0, k), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + k), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, k), pa.int64()),
            "event_type": pa.array(r.choice(EVENT_TYPES, k), pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)], pa.string()),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write ``<table>.parquet`` for every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, scale).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ----------------------------------------------------------------------
# RainStorm line corpus

SIGN_TYPES = [
    "Stop", "Yield", "Speed Limit", "No Parking", "One Way", "School Zone",
    "Streetname - Mast Arm", "Streetname", "Do Not Enter", "Pedestrian Crossing",
]
SIGN_POSTS = ["Punched Telespar", "Traffic Signal Mast Arm", "Round Metal",
              "Wood", "U-Channel", "Light Pole"]
CATEGORIES = ["Streetname", "Regulatory", "Warning", "Guide", "School", "Parking"]
SIZES = ['"16"" X 42"""', '"30"" X 30"""', '"24"" X 24"""', "36x36", '"18"" X 24"""']
STREETS = ["Green St", "Main St", "University Ave", "Springfield Ave",
           "Prospect Ave", "Neil St", "Kirby Ave", "Mattis Ave"]
PROSE = (
    "the city council approved new signs for the downtown district while "
    "traffic engineers reviewed stop and yield placements near schools and "
    "parking lots along main roads during the spring survey of mast arm posts"
).split()


def corpus_lines(seed: int, n_lines: int) -> list[str]:
    """Deterministic mix: ~80% quoted Traffic_Signs CSV rows, ~20% prose."""
    r = _rng(seed, "corpus")
    kinds = r.random(n_lines) < 0.8
    sign = r.integers(0, len(SIGN_TYPES), n_lines)
    post = r.integers(0, len(SIGN_POSTS), n_lines)
    cat = r.integers(0, len(CATEGORIES), n_lines)
    size = r.integers(0, len(SIZES), n_lines)
    street = r.integers(0, len(STREETS), n_lines)
    xs = r.uniform(-9.83e6, -9.81e6, n_lines)
    ys = r.uniform(4.885e6, 4.89e6, n_lines)
    years = r.integers(1990, 2024, n_lines)
    set_ids = r.integers(1, 400, n_lines)
    prose_len = r.integers(4, 16, n_lines)
    prose_off = r.integers(0, len(PROSE), n_lines)
    lines = []
    for j in range(n_lines):
        if kinds[j]:
            lines.append(
                f"{xs[j]:.4f},{ys[j]:.4f},{j + 1},{SIGN_TYPES[sign[j]]},"
                f"{SIZES[size[j]]}, ,{SIGN_POSTS[post[j]]},{years[j]},"
                f"{CATEGORIES[cat[j]]}, ,R1-1,Champaign,{j + 1}, ,FIELD,L,"
                f"{STREETS[street[j]]},{set_ids[j]},"
            )
        else:
            o = prose_off[j]
            words = [PROSE[(o + t) % len(PROSE)] for t in range(prose_len[j])]
            lines.append(" ".join(words).capitalize() + ".")
    return lines


def write_corpus(out_dir: str, seed: int, n_lines: int, n_chunks: int) -> list[str]:
    """Split the corpus into ``n_chunks`` contiguous chunk files
    (``chunk_000.txt`` ...); returns the lines in order."""
    os.makedirs(out_dir, exist_ok=True)
    lines = corpus_lines(seed, n_lines)
    bounds = np.linspace(0, n_lines, n_chunks + 1).astype(int)
    for c in range(n_chunks):
        with open(os.path.join(out_dir, f"chunk_{c:03d}.txt"), "w", encoding="ascii") as fh:
            fh.write("\n".join(lines[bounds[c]:bounds[c + 1]]) + "\n")
    return lines


# ----------------------------------------------------------------------
# live event stream


def events_frame(seed: int, file_no: int, rows: int) -> pa.Table:
    """File ``file_no`` of the live stream: ``rows`` events with ids
    ``file_no * rows ...``, ts inside that file's own minute."""
    r = _rng(seed, f"live{file_no}")
    start = _EPOCH_2024 + np.timedelta64(file_no * 60, "s")
    return events_table(r, file_no * rows, rows, n_users=500, start=start, span_s=60)
