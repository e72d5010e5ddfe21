"""High-level API: train on (html, value) examples, extract at scale.

Mirrors the reference's public surface (``mlscraper.html.Page`` +
``mlscraper.training.train_scraper`` + ``Scraper.get``,
``/root/reference/README.rst:17-40``) re-expressed for Spark: training
returns a JSON plan; extraction is a DataFrame transformation.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

from mlscraper_spark.training.samples import Sample, SamplePage, TrainingSet
from mlscraper_spark.training.train import train_scraper as _train_local


def train_scraper(pages_and_values: list[tuple[bytes | str, object]],
                  complexity: int = 100) -> dict:
    """Train a scraper plan from (html, expected_value) examples.

    Training runs on the driver, as the reference's loop does
    (training.py:36-78): each sample page is parsed once, the match scan
    probes a per-page value index, and selector-uniqueness verification
    (J6) and the combination search run over the pruned match sets.  Only
    applying the plan (``scrape``) is a Spark job.
    """
    ts = TrainingSet()
    for i, (html, value) in enumerate(pages_and_values):
        ts.add_sample(Sample(SamplePage(f"sample-{i}", html), value))
    return _train_local(ts, complexity=complexity)


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
