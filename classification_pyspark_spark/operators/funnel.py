"""Per-source funnel reports as ONE aggregate over a tagged union.

A curation funnel reports, per source, what each stage dropped or
kept. The direct form aggregates every stage frame on its own and
left-joins the results back onto the first stage: one exchange and one
join per stage. Here every stage frame is projected to the same narrow
row (source, tag, four long value slots, one distinct-count slot),
the projections are unioned, and one grouped aggregate reads each
output as a tag-filtered sum — one exchange on the source in total.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def tagged_funnel(
    stages: Sequence[tuple[int, DataFrame, dict[str, Column]]],
    outputs: Sequence[tuple[str, int, str]],
) -> DataFrame:
    """Per-``source`` funnel report over ``stages``.

    Each stage is ``(tag, frame, values)``: ``values`` maps slots
    ``v1``..``v4`` and ``pk`` to expressions over ``frame`` (missing:
    ``v1`` = 1, so a plain stage counts its rows, ``v2``..``v4`` = 0,
    ``pk`` = NULL). Stages may share a tag; their rows then sum
    together. Each output is ``(name, tag, slot)``: the sum of that
    slot over the tag's rows, 0 when the source has none, or for slot
    ``pk`` the distinct count of its non-NULL values. Every output is
    a LONG.

    Equal to the per-stage aggregate + left-join form when every later
    stage's sources are a subset of the first stage's (the group-key
    set is then unchanged, and a sum over an absent tag is NULL -> 0
    exactly like a left-join NULL).
    """
    zero = F.lit(0).cast("long")
    default = {
        "v1": F.lit(1).cast("long"),
        "v2": zero,
        "v3": zero,
        "v4": zero,
        "pk": F.lit(None).cast("long"),
    }
    u = None
    for tag, frame, values in stages:
        vals = {**default, **values}
        tagged = frame.select(
            "source",
            F.lit(tag).alias("__st"),
            *[vals[s].cast("long").alias(f"__{s}") for s in default],
        )
        u = tagged if u is None else u.unionByName(tagged)
    st = F.col("__st")
    aggs = [
        (
            F.countDistinct(F.when(st == tag, F.col("__pk")))
            if slot == "pk"
            else F.coalesce(F.sum(F.when(st == tag, F.col(f"__{slot}"))), zero)
        )
        .cast("long")
        .alias(name)
        for name, tag, slot in outputs
    ]
    return u.groupBy("source").agg(*aggs)
