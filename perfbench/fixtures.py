"""Seeded input generators for the benchmark.

Every input a workload reads is generated here from the run's seed, so
the same seed gives byte-identical inputs and the benchmark never reads
files outside its own checkout.

* :func:`write_star_schema` writes the ten fixture tables the query
  registry reads (the schema and row counts of ``FIXTURES.md`` §B) as
  one parquet file each, at a chosen scale factor. Value domains follow
  the column statistics of the repository's seed-42 fixture files
  (range, distinct count, mean and spread per column); ``README.md``
  compares the work registry queries do on the two.
* :func:`stream_day_docs` builds one arrival day of the planted-class
  document stream that the streaming ingest path deduplicates.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "green", "small", "large", "hot", "cold", "new"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "gear", "anvil", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(out_dir: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str | Path, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; return row counts.

    Row counts follow the fixture family (lineitem = 6e6·sf, orders =
    1.5e6·sf, documents = max(500, 5e4·sf), …), and so do the value
    domains: keys, prices and dates are uniform over the fixture ranges
    (independent of each other, as there), events arrive uniformly over
    30 days, ``documents`` is 31-word-vocabulary text with a few
    planted duplicates and ``embeddings`` are random unit vectors.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_evt = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": retail,
    })
    odate = _EPOCH_1995 + rng.integers(0, 2405, n_ord) * np.timedelta64(1, "D")
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    li_order = rng.integers(0, n_ord, n_li, dtype=np.int64)
    li_part = rng.integers(0, n_part, n_li, dtype=np.int64)
    ship = _EPOCH_1995 + rng.integers(1, 2500, n_li) * np.timedelta64(1, "D")
    _write(out, "lineitem", {
        "l_orderkey": li_order,
        "l_partkey": li_part,
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt))
    ts = _EPOCH_2024 + offsets * np.timedelta64(1, "us")
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, 3 * n_evt // 200), n_evt, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    _write(out, "documents", _documents(rng, n_docs))
    _write(out, "embeddings", _embeddings(rng, n_emb))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_evt,
        "documents": n_docs, "embeddings": n_emb,
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    """10–99 words drawn uniformly from the fixture vocabulary, with
    duplicates planted at the fixtures' rate (about 0.15% each): exact
    copies of an earlier doc of any source, and near copies of an
    earlier doc of the same source with one word appended or dropped."""
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 100, n)]
    n_dup = max(1, round(0.0015 * n))
    slots = rng.choice(np.arange(40, n), 2 * n_dup, replace=False)
    for j, i in enumerate(slots):
        if j < n_dup:
            texts[i] = texts[int(rng.integers(0, i))]
        else:
            toks = texts[i - 20 * int(rng.integers(1, i // 20 + 1))].split()
            toks = toks[:-1] if rng.integers(0, 2) else toks + [toks[0]]
            texts[i] = " ".join(toks)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """Random unit vectors; labels are uniform and, as in the fixtures,
    carry no cluster structure."""
    label = rng.integers(0, EMBED_LABELS, n)
    vec = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }


# --------------------------------------------------------------------------
# Planted-class document stream (streaming ingest workload)
# --------------------------------------------------------------------------

#: Doc classes by ``doc_id % 50``; every duplicate targets a class-0
#: background doc, so dropping the later arrival never chains.
CLS_SHORT = 2  # 10 words: fails the ingest quality gate
CLS_EXACT_SAME = 3  # same-day exact copy of doc_id - 3
CLS_EXACT_PREV = 4  # exact re-emit of doc_id - 4 from the previous day
CLS_NEAR_SAME = 5  # same-day near copy of doc_id - 5 (one word replaced)
CLS_NEAR_PREV = 9  # near re-emit of doc_id - 9 from the previous day
STREAM_WORDS = 100
STREAM_VOCAB = 50_000


def stream_day_docs(seed: int, day: int, per_day: int) -> pa.Table:
    """One day of planted-class documents; doc_id = day·per_day + slot.

    Background words are a seeded hash of (seed, source doc, position),
    so an exact copy reproduces its target's text and a near copy
    differs in one word (hashed 3-shingle Jaccard ≈ 0.94)."""
    ids = np.arange(day * per_day, (day + 1) * per_day, dtype=np.int64)
    cls = ids % 50
    prev = ids >= per_day
    base = ids.copy()
    base[cls == CLS_EXACT_SAME] -= CLS_EXACT_SAME
    base[cls == CLS_NEAR_SAME] -= CLS_NEAR_SAME
    m = (cls == CLS_EXACT_PREV) & prev
    base[m] -= CLS_EXACT_PREV + per_day
    m = (cls == CLS_NEAR_PREV) & prev
    base[m] -= CLS_NEAR_PREV + per_day
    near = (cls == CLS_NEAR_SAME) | ((cls == CLS_NEAR_PREV) & prev)
    pos = np.arange(STREAM_WORDS, dtype=np.uint64)
    mix = (base.astype(np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15)) ^ (
        pos[None, :] * np.uint64(0xBF58476D1CE4E5B9)
    ) ^ np.uint64((seed * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF)
    mix ^= mix >> np.uint64(31)
    mix *= np.uint64(0xD6E8FEB86659FD93)
    mix ^= mix >> np.uint64(29)
    word_ids = (mix % np.uint64(STREAM_VOCAB)).astype(np.int64)
    texts = []
    for j, doc in enumerate(ids):
        n_words = 10 if cls[j] == CLS_SHORT else STREAM_WORDS
        toks = [f"w{w}" for w in word_ids[j, :n_words]]
        if near[j]:
            toks[3] = f"z{doc}"
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": ids,
        "day": pa.array(np.full(per_day, day, dtype=np.int32)),
        "text": texts,
    })


def stream_expected_admitted(per_day: int, days: int) -> int:
    """Docs the exact ingest stage must admit from the whole stream:
    all docs minus the gated short docs, the same-day exact copies and
    the previous-day exact re-emits (day 0 has no earlier day, so its
    re-emit-class docs are originals). Near copies differ in one word,
    so this stage admits them."""
    c = per_day // 50
    return per_day * days - 2 * days * c - (days - 1) * c

