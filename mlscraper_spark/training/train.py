"""Scraper training: match-combination search → scraper plan.

Re-expression of ``/root/reference/mlscraper/training.py``.  The search loop
runs on the driver over the pruned match space (top-100 by span per sample,
``training.py:48-51``), as does the raw match scan that feeds it
(``Sample.get_matches``, one value-index probe per sample value).
"""
from __future__ import annotations

from itertools import combinations, product
from statistics import mean

from mlscraper_spark.training.matches import (
    PAGE_ROOT,
    DictMatch,
    ListMatch,
    ValueMatch,
    is_disjoint_match_combination,
)
from mlscraper_spark.training.samples import TrainingSet
from mlscraper_spark.training.scrapers import (
    PASS_SELECTOR,
    css_selector,
    dict_plan,
    extractor_spec,
    list_plan,
    value_plan,
)
from mlscraper_spark.training.selectors import (
    _PageSelectorIndex,
    generate_unique_selectors_for_nodes,
)

TOP_MATCHES_PER_SAMPLE = 100  # training.py:48-51


class TrainingException(Exception):
    pass


class NoScraperFoundException(TrainingException):
    pass


def get_match_combination_priority(matches) -> float:
    """Mean pairwise similarity; 1 for singletons (training.py:28-33)."""
    if len(matches) == 1:
        return 1.0
    return mean(m1.similarity_to(m2) for m1, m2 in combinations(matches, 2))


def train_scraper(training_set: TrainingSet, complexity: int = 100) -> dict:
    """training.py:36-78 — returns a scraper *plan* (scrapers.py grammar)."""
    samples = training_set.item.samples
    sample_matches = [
        sorted(s.get_matches(), key=lambda m: m.span)[:TOP_MATCHES_PER_SAMPLE]
        for s in samples
    ]
    match_combinations = list(product(*sample_matches))
    # best-first: sorted by mean pairwise similarity, descending; Python sort
    # is stable so product order breaks ties deterministically
    # (training.py:58-60)
    match_combinations.sort(key=get_match_combination_priority, reverse=True)

    indexes: dict[str, _PageSelectorIndex] = {}  # shared memo across attempts
    roots = [(s.page.page_key, PAGE_ROOT) for s in samples]
    doms = {s.page.page_key: s.page.dom for s in samples}
    last_err: Exception | None = None
    for match_combination in match_combinations:
        try:
            return train_scraper_for_matches(
                list(match_combination), roots, doms, complexity, indexes)
        except NoScraperFoundException as e:
            last_err = e
    raise NoScraperFoundException("did not find scraper") from last_err


def train_scraper_for_matches(matches, roots, doms, complexity, indexes) -> dict:
    """training.py:81-209.

    ``matches``: Match objects (one per root); ``roots``: (page_key, node_id)
    with PAGE_ROOT for whole pages; ``doms``: page_key -> PageDOM.
    """
    found_types = set(map(type, matches))
    assert len(found_types) == 1, f"different match types passed {found_types=}"
    found_type = found_types.pop()
    assert len(matches) == len(roots), "got uneven inputs"

    if not is_disjoint_match_combination(matches):
        raise NoScraperFoundException("a pair of matches overlaps")

    if found_type is ValueMatch:
        # extractor consensus (training.py:108-113)
        extractors = {m.extractor for m in matches}
        if len(extractors) != 1:
            raise NoScraperFoundException("different extractors found for matches")
        extractor = extractors.pop()

        # early return when nodes are the roots, e.g. list items
        # (training.py:116-118)
        if all(
            m.node_id == rid and m.page_key == rpk
            for m, (rpk, rid) in zip(matches, roots)
        ):
            return value_plan(PASS_SELECTOR, extractor_spec(extractor))

        targets = [(m.page_key, doms[m.page_key], m.node_id) for m in matches]
        rule = next(
            generate_unique_selectors_for_nodes(targets, roots, complexity, indexes),
            None,
        )
        if rule is None:
            raise NoScraperFoundException(f"no selector found {matches=}")
        return value_plan(css_selector(rule), extractor_spec(extractor))

    if found_type is DictMatch:
        # union of keys so that missing keys error below (training.py:140-142)
        keys = sorted({k for m in matches for k in m.match_by_key})
        children = {}
        for k in keys:
            try:
                matches_per_key = [m.match_by_key[k] for m in matches]
            except KeyError as e:
                raise NoScraperFoundException(f"missing key {k!r} in a match") from e
            try:
                children[k] = train_scraper_for_matches(
                    matches_per_key, roots, doms, complexity, indexes)
            except NoScraperFoundException as e:
                raise NoScraperFoundException(f"DictScraper failed ({k=})") from e
        return dict_plan(children)

    if found_type is ListMatch:
        # flatten (item match, original root) pairs (training.py:173-179)
        item_match_and_roots = [
            (im, r) for m, r in zip(matches, roots) for im in m.matches
        ]
        item_targets = [
            (im.page_key, doms[im.page_key], im.root) for im, _ in item_match_and_roots
        ]
        item_outer_roots = [r for _, r in item_match_and_roots]
        rule = next(
            generate_unique_selectors_for_nodes(
                item_targets, item_outer_roots, complexity, indexes),
            None,
        )
        if rule is None:
            raise NoScraperFoundException("no list selector found")
        # recurse with each item's own root as the new root
        # (training.py:195-205)
        item_matches = [im for im, _ in item_match_and_roots]
        item_roots = [(im.page_key, im.root) for im, _ in item_match_and_roots]
        item_plan = train_scraper_for_matches(
            item_matches, item_roots, doms, complexity, indexes)
        return list_plan(css_selector(rule), item_plan)

    raise RuntimeError(f"type not matched: {found_type}")
