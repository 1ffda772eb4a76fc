"""Mention detection + entity linking as a single narrow Spark stage
(SURVEY B3+B5): ``transcripts → mapInPandas(link_batch) → linked mentions``.

``map_linked`` is that stage: ``linked_mentions`` ends it at the mention
rows, ``triples.extract_triples`` at triples (``triples_batch``).

No shuffle: the stage is embarrassingly parallel over input splits, so it
scales linearly with executors (the N→4N efficiency criterion rides on
this stage staying narrow). Column pruning is explicit — the UDF declares
the minimal input schema so parquet scans read only 5 columns.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.operators.linking import LinkContext, link_batch

MENTION_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("mention_id", T.IntegerType()),
    T.StructField("mention", T.StringType()),
    T.StructField("entity", T.StringType()),
    T.StructField("entity_score", T.DoubleType()),
])

INPUT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool"]


def map_linked(transcripts: DataFrame, ctx_bc,
               finish: Callable[[pd.DataFrame], pd.DataFrame],
               schema: T.StructType) -> DataFrame:
    """The one link stage: pruned transcripts → ``link_batch`` → ``finish``
    per Arrow batch, in one narrow mapInPandas.

    ``ctx_bc`` is a ``sc.broadcast(LinkContext)`` — the analogue of the
    reference's driver-resident model reused across requests
    (``Duke/evaluate.py:78-86``), shipped once per executor.
    """
    pruned = (transcripts
              .select(*INPUT_COLUMNS)
              .filter(F.col("text").isNotNull()))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx: LinkContext = ctx_bc.value
        for pdf in batches:
            out = finish(link_batch(pdf, ctx))
            if len(out):
                yield out

    return pruned.mapInPandas(run, schema=schema)


def linked_mentions(transcripts: DataFrame, ctx_bc) -> DataFrame:
    """transcripts (input_hint schema) → linked-mention DataFrame."""
    return map_linked(transcripts, ctx_bc, lambda m: m, MENTION_SCHEMA)
