"""End-to-end KG construction pipeline (SURVEY §7 step 2-4 spine).

transcripts ──mapInPandas──► linked mentions (persisted)
                                   ├─► triples (mapInPandas: triples_batch)
                                   ├─► canonicalization (count shuffle, fold)
                                   └─► vertices/edges (aggregates, joins)

Physical profile: one narrow UDF stage over the scan, whose persisted
output feeds a second narrow UDF stage for triples; small shuffles
((entity, mention) counts and their per-entity lists; edge aggregation),
and a worker-side fold that sends only ≤C (entity, type) rows to the
driver — the shape SURVEY §4 calls for. Skew: the UDF stages are
per-split (hot conversations don't matter there); grouped stages lean on
AQE skew handling, enabled in config.get_spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from duke_spark.operators.canonical import canonical_types_df
from duke_spark.operators.graph import build_edges, build_vertices
from duke_spark.operators.linking import LinkContext
from duke_spark.operators.mentions import linked_mentions
from duke_spark.operators.triples import triples_from_mentions


def make_context(spark: SparkSession, vocab=None, matrix=None,
                 raw_tree=None):
    """Build + broadcast the LinkContext (fixture defaults)."""
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.fixtures.embedding import embedding_arrays

    if vocab is None or matrix is None:
        vocab, matrix = embedding_arrays()
    if raw_tree is None:
        raw_tree = mini_tree()
    ctx = LinkContext(vocab, matrix, raw_tree)
    return spark.sparkContext.broadcast(ctx)


def build_kg(spark: SparkSession, transcripts: DataFrame, ctx_bc) -> dict:
    """Run the full pipeline; returns dict of DataFrames (lazy where
    possible). Mentions are linked once and persisted because three
    consumers share them (the reference's embed-once-reuse pattern,
    ``Duke/evaluate.py:78-86``); the persisted rows only save time — a
    recomputed partition yields the same triples.
    """
    mentions = linked_mentions(transcripts, ctx_bc).persist()
    triples = triples_from_mentions(mentions)
    canonical = canonical_types_df(spark, mentions, ctx_bc)
    vertices = build_vertices(mentions, canonical)
    edges = build_edges(triples)
    return {"mentions": mentions, "triples": triples,
            "canonical": canonical, "vertices": vertices, "edges": edges}
