"""Tile construction of ``scripts/scale.py`` on the smoke tables: k tiles
hold exactly k times the rows and k times the bigram join mass of one,
and every base table loads from the tile directory."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import scale  # noqa: E402  (scripts/scale.py)

from candia_spark.operators.dedup import word_ngram_hashes  # noqa: E402
from candia_spark.tables import TABLE_NAMES, load_table  # noqa: E402


@pytest.fixture(scope="module")
def tiles(spark, sf_smoke, tmp_path_factory):
    root = tmp_path_factory.mktemp("scale")
    out = {}
    for k in (1, 3):
        tile_dir = str(root / f"x{k}")
        out[k] = (tile_dir, scale.build_tiles(spark, sf_smoke, k, tile_dir))
    return out


def _join_mass(spark, sf_dir) -> int:
    """Σdf² over the documents' bigram shingle hashes."""
    docs = load_table(spark, sf_dir, "documents")
    df = word_ngram_hashes(docs, n=2).groupBy("shingle").count()
    return df.agg(F.sum(F.col("count") * F.col("count"))).first()[0]


def test_tiles_scale_rows_exactly(spark, sf_smoke, tiles):
    docs = load_table(spark, sf_smoke, "documents")
    # each tile holds the base rows, one near-dup partner per id % 20 == 3
    # and one exact copy per id % 20 == 7
    per_tile = docs.count() + docs.filter(
        (F.col("doc_id") % 20 == 3) | (F.col("doc_id") % 20 == 7)
    ).count()
    emb = load_table(spark, sf_smoke, "embeddings")
    per_tile_vecs = emb.count() + emb.filter(F.col("vec_id") % 20 == 3).count()
    for k, (_, counts) in tiles.items():
        assert counts == {"n_docs": k * per_tile, "n_vecs": k * per_tile_vecs}


def test_tiles_scale_bigram_join_mass_exactly(spark, tiles):
    one, three = (_join_mass(spark, tiles[k][0]) for k in (1, 3))
    assert one > 0
    assert three == 3 * one


def test_every_base_table_loads_from_tile_dir(spark, sf_smoke, tiles):
    tile_dir = tiles[3][0]
    for name in TABLE_NAMES:
        base = load_table(spark, sf_smoke, name)
        tiled = load_table(spark, tile_dir, name)
        assert tiled.schema == base.schema, name
        if name not in scale.TILED:
            assert tiled.count() == base.count(), name
