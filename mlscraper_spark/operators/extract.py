"""§3.2 — distributed inference: apply a trained scraper plan to pages.

The hot path at 10^10 scale (SURVEY.md §3.2): the plan is a small JSON tree
shipped in the task closure (equivalent to a broadcast — it is a few hundred
bytes); each Arrow batch of pages is parsed and extracted per partition with
zero shuffle.  One output row per page (value_json) or one row per extracted
list item (exploded form), so downstream consumers keep full column pruning.
"""
from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def page_payload(html: bytes | str, plan: dict | None,
                 images: bool) -> tuple[str | None, list[dict]]:
    """The per-page payload kernel: parse the page ONCE and derive what
    was asked for from the same records — the plan's ``value_json``
    (None without a plan) and the ``<img>`` metadata
    (``synthweb.image_meta``; [] unless ``images``).

    Convention across all extract operators: SQL NULL (None) means the
    pipeline failed; the JSON string "null" means the plan ran and
    extracted nothing.  A page the parser cannot hold (e.g. nesting deep
    enough to exhaust the recursion limit) fails alone — one bad page
    never fails a task."""
    from mlscraper_spark.crawl.synthweb import image_meta
    from mlscraper_spark.dom.css import PageDOM
    from mlscraper_spark.dom.parser import parse_html
    from mlscraper_spark.training.matches import PAGE_ROOT
    from mlscraper_spark.training.scrapers import apply_plan

    try:
        records = parse_html(html)
    except Exception:
        return None, []
    value_json = None
    if plan is not None:
        try:
            value_json = json.dumps(
                apply_plan(PageDOM(records), PAGE_ROOT, plan, strict=False),
                sort_keys=True,
            )
        except Exception:
            pass
    return value_json, image_meta(records) if images else []


def extract_with_plan(pages_df: DataFrame, plan: dict,
                      page_id_col: str = "page_id",
                      html_col: str = "html") -> DataFrame:
    """Apply a scraper plan to every page → (page_id, value_json)."""
    plan_json = json.dumps(plan)
    schema = T.StructType(
        [
            T.StructField("page_id", T.StringType(), False),
            T.StructField("value_json", T.StringType(), True),
        ]
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = json.loads(plan_json)
        for pdf in batches:
            out = [(page_id, page_payload(html, p, False)[0])
                   for page_id, html in zip(pdf[page_id_col], pdf[html_col])]
            yield pd.DataFrame(out, columns=["page_id", "value_json"])

    return pages_df.select(page_id_col, html_col).mapInPandas(_extract, schema)


def extract_from_urls(urls_df: DataFrame, plan: dict, web,
                      url_col: str = "url_canon") -> DataFrame:
    """Fetch each URL from the synthetic web and apply a trained scraper
    plan → (url_canon, value_json), fetch + parse + extract in one Arrow
    UDF.  A non-200 fetch yields NULL.  A crawl does not call this: its
    fetch stage runs the same ``page_payload`` kernel on the bytes it
    already fetched (``crawl/engine.run_crawl``)."""
    plan_json = json.dumps(plan)
    schema = T.StructType(
        [
            T.StructField("url_canon", T.StringType(), False),
            T.StructField("value_json", T.StringType(), True),
        ]
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.crawl.synthweb import fetch

        p = json.loads(plan_json)
        for pdf in batches:
            out = []
            for url in pdf[url_col]:
                status, html = fetch(url, web)
                out.append(
                    (url, page_payload(html, p, False)[0] if status == 200 else None)
                )
            yield pd.DataFrame(out, columns=["url_canon", "value_json"])

    return urls_df.select(url_col).mapInPandas(_run, schema)


def extract_list_items(pages_df: DataFrame, plan: dict,
                       page_id_col: str = "page_id",
                       html_col: str = "html") -> DataFrame:
    """For a list plan, emit one row per extracted item:
    (page_id, item_index, item_json) — the exploded sink shape (S5)."""
    assert plan["type"] == "list", "extract_list_items requires a list plan"
    plan_json = json.dumps(plan)
    schema = T.StructType(
        [
            T.StructField("page_id", T.StringType(), False),
            T.StructField("item_index", T.IntegerType(), False),
            T.StructField("item_json", T.StringType(), True),
        ]
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.training.scrapers import apply_plan_to_html

        p = json.loads(plan_json)
        for pdf in batches:
            out = []
            for page_id, html in zip(pdf[page_id_col], pdf[html_col]):
                try:
                    items = apply_plan_to_html(html, p, strict=False) or []
                except Exception:
                    items = []
                for i, item in enumerate(items):
                    out.append((page_id, i, json.dumps(item, sort_keys=True)))
            yield pd.DataFrame(out, columns=["page_id", "item_index", "item_json"])

    return pages_df.select(page_id_col, html_col).mapInPandas(_extract, schema)
