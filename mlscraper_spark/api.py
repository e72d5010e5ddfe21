"""High-level API: train on (html, value) examples, extract at scale.

Mirrors the reference's public surface (``mlscraper.html.Page`` +
``mlscraper.training.train_scraper`` + ``Scraper.get``,
``/root/reference/README.rst:17-40``) re-expressed for Spark: training
returns a JSON plan; extraction is a DataFrame transformation.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mlscraper_spark.training.samples import Sample, SamplePage, TrainingSet
from mlscraper_spark.training.samples import iter_string_values
from mlscraper_spark.training.train import train_scraper as _train_local


def train_scraper(pages_and_values: list[tuple[bytes | str, object]],
                  complexity: int = 100,
                  spark: SparkSession | None = None) -> dict:
    """Train a scraper plan from (html, expected_value) examples.

    With ``spark`` given, the raw match scan (the only stage that touches
    full page contents) runs as a distributed job over the exploded nodes
    table (SURVEY.md §3.1).  Selector-uniqueness verification (J6) and the
    combination search stay on the driver over the pruned match sets,
    exactly as the reference's loop (training.py:62-77).
    """
    sample_pages = [
        SamplePage(f"sample-{i}", html) for i, (html, _) in enumerate(pages_and_values)
    ]
    ts = TrainingSet()
    for page, (_, value) in zip(sample_pages, pages_and_values):
        ts.add_sample(Sample(page, value))

    index = None
    if spark is not None:
        from mlscraper_spark.operators.matching import build_value_match_index

        values = []
        for _, value in pages_and_values:
            values.extend(iter_string_values(value))
        index = build_value_match_index(
            spark,
            [(p.page_key, hv[0] if isinstance(hv[0], bytes) else hv[0].encode())
             for p, hv in zip(sample_pages, pages_and_values)],
            values,
        )
    return _train_local(ts, complexity=complexity, value_match_index=index)


def scrape(pages_df: DataFrame, plan: dict) -> DataFrame:
    """Apply a trained plan to a pages DataFrame → (page_id, value_json)."""
    from mlscraper_spark.operators.extract import extract_with_plan

    return extract_with_plan(pages_df, plan)


def scrape_one(html: bytes | str, plan: dict) -> object:
    """Driver-side single-page extraction — the reference's
    ``scraper.get(Page(html))`` ergonomics (README.rst:35-40) for users
    who hold one page, not a DataFrame.  Identical plan semantics to the
    distributed ``scrape`` (both call ``apply_plan_to_html``)."""
    from mlscraper_spark.training.scrapers import apply_plan_to_html

    return apply_plan_to_html(html, plan, strict=False)
