"""P1–P4 — the distributed match scan over the ``nodes`` table (q24).

Training does not use it: its scan runs on the driver over the parsed
sample pages (``training/matches.py::scan_value_matches``); the two scans
are tested for agreement.

Relational re-expression of ``Node.find_all``
(``/root/reference/mlscraper/html.py:84-104``) + the dimensions filter
(``matches.py:227-234``):

* P1 exact-text: a node matches value V iff some *direct text child*,
  stripped, equals V → ``explode(own_texts) == V`` (the anchored-regex
  semantics of html.py:89 as trim-equality, spec-by-test
  tests/test_html.py:51-57).
* P2 ancestor propagation: every ancestor with identical stripped subtree
  text also matches (html.py:95-97) → explode of the parser-precomputed
  ``text_anc_ids`` (the DOM-local fact; no self-join).
* P3 attribute-value: any attribute equal to V (html.py:100-104), excluding
  bs4 multi-valued attrs ('class'/'rel') which the reference compares
  list-vs-str (never equal).
* P4 dimensions filter: drop width/height attribute hits (samples.py:37).

Scale notes: the values side is tiny and is broadcast; P2
needs no join at all — the parser computes ``text_anc_ids`` where each
page's DOM is local, so the ancestor branch is a per-row explode; filters
push to the parquet scan of nodes.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# sort-key components reproducing the reference generation order
# (html.py:87-104): text matches in document order, each immediately followed
# by its promoted ancestors (nearest first), then attribute matches.
_PHASE_TEXT, _PHASE_ATTR = 0, 1


def scan_matches(nodes_df: DataFrame, values_df: DataFrame,
                 drop_dimensions: bool = True) -> DataFrame:
    """Return matches of each value over the nodes table.

    ``values_df``: single column ``value`` (the strings to find).
    Output: page_id, value, node_id, extractor_kind ('text'|'attr'),
    extractor_attr, sort_key (array<int>; reference generation order).
    """
    from mlscraper_spark.caches import scoped_cache

    # the nodes table feeds TWO branches (text+ancestor matches via
    # ``direct``, attribute matches); uncached, each branch re-runs the
    # whole upstream pipeline — for exploded HTML pages that is the Arrow
    # parse stage executed per branch (guide §4: the Python boundary is
    # the expensive part; pay it once).  Scoped: released at the next
    # query entry / bench leg via release_caches().  The values side and
    # ``direct`` stay uncached: both are cheap to recompute from here,
    # and caching them cost two jobs in q24 and saved nothing.
    nodes_df = scoped_cache(nodes_df)
    v = F.broadcast(values_df.select("value").distinct())

    # NO dropDuplicates here (removed r6): a node whose own_texts carries
    # the same value twice yields duplicate rows, but every duplicate has
    # an IDENTICAL sort_key, so the final min-aggregation collapses them —
    # the dedup exchange + sort-aggregate pair per consuming branch bought
    # nothing (guide §2.4: remove shuffles whose work a later stage
    # already does).
    direct = nodes_df.select(
        "page_id", "node_id", "text_anc_ids",
        F.explode("own_texts").alias("own_text"),
    ).join(v, F.col("own_text") == F.col("value"))

    text_matches = direct.select(
        "page_id",
        "value",
        "node_id",
        F.lit("text").alias("extractor_kind"),
        F.lit(None).cast("string").alias("extractor_attr"),
        F.array(F.lit(_PHASE_TEXT), F.col("node_id"), F.lit(0)).alias("sort_key"),
    )

    # ancestor promotion (P2) is a plain EXPLODE of the parser-precomputed
    # text_anc_ids (r6): the parse UDF already knows, per node, every
    # ancestor with identical stripped subtree text (a page-local fact the
    # optimizer could never derive — guide §8), so the former
    # nodes⋈nodes broadcast join — a second full pass over the nodes
    # cache plus a broadcast build per query — is gone entirely.  Row set
    # identical: one row per (direct match, equal-text ancestor), same
    # sort_key arithmetic (nearest ancestors first, html.py:95-97).
    anc = (
        direct.select(
            "page_id",
            "value",
            F.col("node_id").alias("m_node_id"),
            F.explode("text_anc_ids").alias("a_node_id"),
        )
        .select(
            "page_id",
            "value",
            F.col("a_node_id").alias("node_id"),
            F.lit("text").alias("extractor_kind"),
            F.lit(None).cast("string").alias("extractor_attr"),
            F.array(
                F.lit(_PHASE_TEXT),
                F.col("m_node_id"),
                # ancestor offset: nearest ancestors first (html.py:95-97)
                F.col("m_node_id") - F.col("a_node_id"),
            ).alias("sort_key"),
        )
    )

    attr_matches = (
        nodes_df.select(
            "page_id", "node_id", F.explode("attrs").alias("attr", "attr_value")
        )
        .filter(~F.col("attr").isin("class", "rel"))
        .join(v, F.col("attr_value") == F.col("value"))
        .select(
            "page_id",
            "value",
            "node_id",
            F.lit("attr").alias("extractor_kind"),
            F.col("attr").alias("extractor_attr"),
            F.array(F.lit(_PHASE_ATTR), F.col("node_id"), F.lit(0)).alias("sort_key"),
        )
    )

    out = text_matches.unionByName(anc).unionByName(attr_matches)
    if drop_dimensions:
        out = out.filter(
            (F.col("extractor_kind") != "attr")
            | ~F.col("extractor_attr").isin("width", "height")
        )
    # dedupe deterministically: keep the earliest generation-order key
    return out.groupBy(
        "page_id", "value", "node_id", "extractor_kind", "extractor_attr"
    ).agg(F.min("sort_key").alias("sort_key"))
