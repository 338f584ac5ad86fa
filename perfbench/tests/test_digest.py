"""The order-free digest that compares operator output with its DuckDB twin."""

import json
from datetime import datetime
from decimal import Decimal

import corpus


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", None)]
    swapped = [(y, x, z) for x, y, z in reversed(rows)]
    assert corpus.digest(["id", "s", "f"], rows) == corpus.digest(["s", "id", "f"], swapped)


def test_digest_sees_values_names_and_types():
    base = corpus.digest(["id", "f"], [(1, 0.5)])
    assert corpus.digest(["id", "f"], [(1, 0.25)]) != base
    assert corpus.digest(["id", "g"], [(1, 0.5)]) != base
    assert corpus.digest(["id", "f"], [("1", 0.5)]) != base


def test_digest_canonicalizes_engine_types():
    a = corpus.digest(["d", "t", "m"], [(Decimal("0.5"), datetime(2024, 1, 1), {"k": [1.0]})])
    b = corpus.digest(["d", "t", "m"], [(0.5, datetime(2024, 1, 1), {"k": (1.0,)})])
    assert a == b


def test_stored_digests_cover_the_mix():
    with open(corpus.DIGESTS) as f:
        assert set(json.load(f)) == set(corpus.MIX)


def test_corpus_is_fixed(tmp_path):
    import pyarrow.parquet as pq

    corpus.write_corpus(str(tmp_path / "a"))
    corpus.write_corpus(str(tmp_path / "b"))
    for t in ("documents", "embeddings"):
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pylist()
    assert sum(d["text"].endswith(" dup") for d in docs) > 10
