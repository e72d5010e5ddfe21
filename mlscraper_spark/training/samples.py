"""Samples, match-set generation, and schema induction.

Re-expression of ``/root/reference/mlscraper/samples.py``.  A sample is
(page, value) where value is str | list | dict recursively — strings-only
leaves (``samples.py:32``, asserted at ``html.py:85``).  Schema is induced
from the first sample and type-checked on later ones
(``samples.py:102-113``, ``:132-170``).  All of this is driver-side, the
per-page match scan included: sample counts are tiny by construction, and
each sample page is parsed once, by ``SamplePage``.
"""
from __future__ import annotations

from itertools import product

from mlscraper_spark.dom.css import PageDOM
from mlscraper_spark.dom.parser import parse_html
from mlscraper_spark.training.matches import (
    DictMatch,
    ListMatch,
    is_dimensions_match,
    is_disjoint_match_combination,
    scan_value_matches,
)


class ItemStructureException(Exception):
    pass


class NoMatchFoundException(Exception):
    pass


class SamplePage:
    """A page participating in training: parsed once, keyed by id."""

    def __init__(self, page_key: str, html: bytes | str):
        self.page_key = page_key
        self.dom = PageDOM(parse_html(html))

    def __repr__(self):
        return f"<SamplePage {self.page_key}>"


class Sample:
    """samples.py:21-27"""

    def __init__(self, page: SamplePage, value):
        self.page = page
        self.value = value

    def __repr__(self):
        return f"<Sample {self.page!r} {self.value!r}>"

    def get_matches(self):
        """samples.py:29-75 — raw value matches for str; cross products with
        disjointness filtering for list/dict."""
        if isinstance(self.value, str):
            value_matches = scan_value_matches(
                self.page.page_key, self.page.dom, self.value
            )
            # filter out dimensions like width/height (samples.py:37)
            value_matches = [m for m in value_matches if not is_dimensions_match(m)]
            if not value_matches:
                raise NoMatchFoundException(
                    f"No match found on page ({self.page!r}, {self.value!r})"
                )
            return value_matches

        if isinstance(self.value, list):
            matches_by_value = [Sample(self.page, v).get_matches() for v in self.value]
            return [
                ListMatch(self.page.page_key, self.page.dom, tuple(combi))
                for combi in product(*matches_by_value)
                if is_disjoint_match_combination(combi)
            ]

        if isinstance(self.value, dict):
            matches_by_key = {
                k: Sample(self.page, v).get_matches() for k, v in self.value.items()
            }
            return [
                DictMatch(
                    self.page.page_key,
                    self.page.dom,
                    dict(zip(matches_by_key.keys(), mc)),
                )
                for mc in product(*matches_by_key.values())
                if is_disjoint_match_combination(mc)
            ]

        raise RuntimeError(f"unsupported value: {self.value!r}")


class Item:
    """samples.py:95-122"""

    @classmethod
    def create_from(cls, value):
        if isinstance(value, str):
            return ValueItem()
        if isinstance(value, list):
            return ListItem()
        if isinstance(value, dict):
            return DictItem()
        raise ItemStructureException(f"unsupported item type ({value!r})")

    def __init__(self):
        self.samples: list[Sample] = []

    def add_sample(self, sample: Sample):
        self.samples.append(sample)


class DictItem(Item):
    """samples.py:125-143"""

    def __init__(self):
        super().__init__()
        self.item_per_key: dict[str, Item] = {}

    def add_sample(self, sample: Sample):
        if not isinstance(sample.value, dict):
            raise ItemStructureException(f"dict expected, {sample.value!r} given")
        super().add_sample(sample)
        for key, value in sample.value.items():
            if key not in self.item_per_key:
                self.item_per_key[key] = Item.create_from(value)
            self.item_per_key[key].add_sample(Sample(sample.page, value))


class ListItem(Item):
    """samples.py:146-163"""

    def __init__(self):
        super().__init__()
        self.item: Item | None = None

    def add_sample(self, sample: Sample):
        if not isinstance(sample.value, list):
            raise ItemStructureException(f"list expected, {sample.value!r} given")
        super().add_sample(sample)
        if not self.item and len(sample.value):
            self.item = Item.create_from(sample.value[0])
        for v in sample.value:
            self.item.add_sample(Sample(sample.page, v))


class ValueItem(Item):
    """samples.py:166-170"""

    def add_sample(self, sample: Sample):
        if not isinstance(sample.value, str):
            raise ItemStructureException(f"str expected, {sample.value!r} given")
        super().add_sample(sample)


class TrainingSet:
    """samples.py:78-92"""

    def __init__(self):
        self.item: Item | None = None

    def add_sample(self, sample: Sample):
        if not self.item:
            self.item = Item.create_from(sample.value)
        self.item.add_sample(sample)


def make_training_set(pages: list[SamplePage], items: list) -> TrainingSet:
    """samples.py:173-180"""
    assert len(pages) == len(items)
    ts = TrainingSet()
    for p, i in zip(pages, items):
        ts.add_sample(Sample(p, i))
    return ts
