"""Geo-entity mining from page text — the engine's "MakeGeometries".

The reference turns raw OSM elements into geometry rows upstream in
oqt (stage ``MakeGeometries``, /root/reference/docs/output.txt:16-23);
our input is web-page text, so the equivalent stage mines geo-entities
(gazetteer terms + literal coordinates) from ``text``. Everything here
is pure-Column (JVM, whole-stage codegen): no Python in the extraction
hot path. The mined rows feed cell encoding → PIP → tiling.

The per-row invariant (BASELINE.json): ``text`` passes through
byte-identical — mining only reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import fanout_small_scan
from ..sources.gazetteer import VOCAB_GAZETTEER

# "Mention of {City} at {lat}, {lon}" — the synthetic pages template
MENTION_RE = r"Mention of (\w+) at (-?[0-9.]+), (-?[0-9.]+)"

__all__ = ["mine_coordinate_mentions", "mine_gazetteer_terms", "MENTION_RE"]


def mine_coordinate_mentions(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract explicit ``City at lat, lon`` mentions via regex.

    One output row per mention: (url, entity, lon, lat). JVM-side:
    regexp_extract_all → explode → regexp_extract groups.
    """
    m = F.explode(F.regexp_extract_all(F.col(text_col), F.lit(MENTION_RE), F.lit(0)))
    return (
        pages.select("url", m.alias("m"))
        .select(
            "url",
            F.regexp_extract("m", MENTION_RE, 1).alias("entity"),
            F.regexp_extract("m", MENTION_RE, 3).cast("double").alias("lon"),
            F.regexp_extract("m", MENTION_RE, 2).cast("double").alias("lat"),
        )
    )


def mine_gazetteer_terms(
    df: DataFrame,
    gazetteer: dict[str, tuple[float, float]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mine whole-word gazetteer term occurrences from text.

    One row per (id, entity) with ``n_occurrences`` >= 1 and the
    gazetteer coordinates. The gazetteer is a literal array in the
    plan (Catalyst broadcasts it as part of the serialized expression
    tree); word matching is exact token equality over a whitespace
    split — the same semantics the oracle SQL expresses with
    list_filter, so results are engine-comparable.
    """
    gaz = gazetteer or VOCAB_GAZETTEER
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("entity"),
                F.lit(lon).alias("glon"),
                F.lit(lat).alias("glat"),
            )
            for t, (lon, lat) in sorted(gaz.items())
        ]
    )
    toks = F.split(F.col(text_col), " ")
    # match-then-explode: count every entry per doc in ONE higher-order
    # pass over the entries array, keep only matches, and explode just
    # the survivors. The previous explode-then-filter shape duplicated
    # each doc row |gazetteer| times carrying its full token array — a
    # 48x intermediate blow-up in the flagship's first stage at 100 TB
    # (VERDICT r1 what's-wrong #5).
    counted = F.transform(
        entries,
        lambda e: F.struct(
            e["entity"].alias("entity"),
            e["glon"].alias("glon"),
            e["glat"].alias("glat"),
            F.size(
                F.filter(F.col("__toks"), lambda w: w == e["entity"])
            ).alias("n"),
        ),
    )
    matches = F.filter(counted, lambda s: s["n"] > 0)
    # the per-doc token x gazetteer match is heavy: fan the input out
    return (
        fanout_small_scan(df).select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), F.explode(matches).alias("g"))
        .select(
            id_col,
            F.col("g.entity").alias("entity"),
            F.col("g.glon").alias("lon"),
            F.col("g.glat").alias("lat"),
            F.col("g.n").cast("long").alias("n_occurrences"),
        )
    )
