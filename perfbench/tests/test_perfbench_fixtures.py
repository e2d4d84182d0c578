"""Generated fixture tables: row counts of FIXTURES.md §B, the fixture
vocabulary, planted duplicates and seed determinism.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from fixtures import DOC_WORDS, write_star_schema  # noqa: E402


def test_row_counts_follow_the_fixture_family(tmp_path):
    rows = write_star_schema(tmp_path, seed=3, sf=0.01)
    assert rows == {
        "customer": 1500, "supplier": 100, "part": 2000, "orders": 15_000,
        "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
    }
    for name, n in rows.items():
        assert pq.read_metadata(tmp_path / f"{name}.parquet").num_rows == n


def test_documents_use_the_fixture_vocabulary_and_plant_duplicates(tmp_path):
    write_star_schema(tmp_path, seed=3, sf=0.01)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    words = [t.split() for t in docs["text"]]
    assert {w for ws in words for w in ws} <= set(DOC_WORDS)
    assert 9 <= min(map(len, words)) and max(map(len, words)) <= 100
    assert len(set(docs["text"])) == len(docs["text"]) - 1  # one exact copy
    lengths = [len(t) for t in docs["text"]]
    assert docs["n_chars"] == lengths


def test_same_seed_same_bytes(tmp_path):
    write_star_schema(tmp_path / "a", seed=5, sf=0.001)
    write_star_schema(tmp_path / "b", seed=5, sf=0.001)
    write_star_schema(tmp_path / "c", seed=6, sf=0.001)
    for name in ("lineitem", "documents", "events"):
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))
