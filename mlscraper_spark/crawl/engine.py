"""The distributed crawl engine: epoch-synchronous BSP loop on DataFrames.

New build per BASELINE.json north_rule — frontier + fetch scheduler with
politeness token buckets, robots cache, partitioned cuckoo URL-seen filter,
priority-queue semantics — matching the sequential oracle (crawl/oracle.py)
bit-for-bit on fetch order and the final URL-seen set.

Design (SURVEY.md §7.4), round-2 architecture:

* **State lives in epoch snapshots on disk** behind the ``TableFormat``
  seam (``mlscraper_spark/tables.py``: Iceberg when the runtime jar is
  present, parquet dirs + JSON manifest otherwise).  Each epoch reads only
  the previous snapshot, so kill-and-resume is free and exact (tested).
* **Frontier is a bucket-manifested table**: rows are bucketed by
  ``host_bucket``; the epoch manifest maps each bucket to the snapshot
  that last rewrote it (``frontier_refs``).  An epoch rewrites ONLY the
  dirty buckets (those with fetched rows or vetted discoveries); clean
  buckets carry forward by manifest reference with zero I/O and zero
  shuffle — the Iceberg snapshot/manifest pattern.  A ref chain longer
  than ``max_ref_span`` snapshots triggers a full compaction rewrite.
* **Politeness** (T6) is a two-phase top-k: phase 1 computes per-host
  top-budget *within each scan partition* in one Arrow stage (no
  Exchange over the frontier — provably a superset of the global answer
  for any partition layout); phase 2 is an exact window top-k over the
  small phase-1 output.  The frontier is never shuffled whole.
* **Global fetch order**: ``seq`` via a deterministic static partition id
  ``depth * K + hash_range_bucket(url_hash)`` (url_hash is xxhash64 —
  uniform, so static equal-width ranges balance), local rank per pid, and
  per-pid offsets joined back broadcast.  No RangePartitioner sampling →
  no lineage-cut checkpoint needed; recomputation is bit-stable.
* **URL-seen** (P10): per-host_bucket cuckoo filters split *discovery
  deltas* (never the whole frontier — rows already in the frontier are
  unseen by construction) into "definitely new" (skip the join) and
  "maybe seen" (exact anti-join against URL-seen, the latest
  ``url_seen_base`` plus the ``fetch_log`` tables after it — the ground
  truth, so filter false positives cost time, never correctness).
* **Skew**: everything keyed by ``host_bucket = pmod(xxhash64(host),
  NB)``; AQE skew-join handles residual imbalance.
* **Frontier merge**: per URL keep (MIN depth, MIN discovered_epoch) —
  associative and commutative, so any partitioning yields the oracle's
  result; applied only to dirty buckets.

No per-row Python on the hot paths: hashing/bucketing/priority/ordering
are JVM expressions; canonicalize + fetch + parse + politeness phase 1
run in Arrow-batched UDFs with pandas-vectorized inner loops.
"""
from __future__ import annotations

import json
import os
import re
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlscraper_spark.crawl.fetchers import SynthWebAdapter
from mlscraper_spark.crawl.synthweb import WebConfig
from mlscraper_spark.streaming.pipeline import crawl_monitor
from mlscraper_spark.tables import get_table_format

FRONTIER_SCHEMA = (
    "url_canon string, url_hash long, host string, host_bucket int, "
    "priority double, depth int, discovered_epoch int"
)
SEEN_SCHEMA = "url_canon string"
FETCHLOG_SCHEMA = (
    "epoch int, seq int, url_canon string, host string, status int, "
    "n_links int, n_images int, page_fp long"
)
FILTERS_SCHEMA = "host_bucket int, blob binary, fingerprint string"
ROBOTS_SCHEMA = "host string, rules_json string, fetched_epoch int"
# tokens AFTER an epoch's consumption, BEFORE the next refill; hosts whose
# next avail is back at capacity are absent (the table self-garbage-collects)
HOST_TOKENS_SCHEMA = "host string, tokens int"


@dataclass(frozen=True)
class CrawlConfig:
    budget_per_host: int = 2  # politeness REFILL: tokens a host gains per epoch
    tokens_capacity: int | None = None  # politeness token-bucket CAPACITY:
    # a host idle long enough accrues up to this many tokens and may burst
    # them in one epoch (north_star: per-host politeness token buckets).
    # None = budget_per_host, the degenerate fixed-budget bucket — that
    # path keeps zero extra state and zero extra jobs per epoch.
    n_buckets: int = 8
    filter_buckets: int = 1 << 16  # cuckoo table size per host_bucket:
    # capacity ≈ filter_buckets × 4 slots (≈ 262k URLs/bucket, 512 KiB
    # blob).  Size it to the expected per-bucket URL count — a saturated
    # filter stays CORRECT (degrades to exact anti-joins for everything)
    # but loses the fast path, so at 10^10 URLs / 4096 buckets you'd run
    # 1 << 20 (8 MiB/bucket).  Changing this across a resume is rejected
    # (the blob header carries its geometry).
    max_ref_span: int = 8  # frontier refs may span at most this many
    # snapshots before a full compaction rewrite (bounds manifest-chain
    # length and lets old snapshots expire — Iceberg snapshot-expiry
    # analog)
    max_depth: int | None = None  # crawler-trap guard: drop discoveries
    # deeper than this many link hops from a seed.  Infinite URL spaces
    # (calendar pages, session-id permutations) otherwise grow the
    # frontier without bound; depth is the standard budget that caps any
    # trap's yield at branching^max_depth.  None = unbounded (the
    # reference-oracle default).
    max_url_len: int | None = None  # trap guard: drop URLs longer than
    # this many canonicalized characters — repeated-path-segment traps
    # (/a/a/a/...) grow the URL every hop, so a length cap cuts the cycle
    # even when depth alone would admit it.  None = unbounded.
    seen_compact_every: int = 16  # every K epochs the URL-seen set is
    # compacted into a full url_seen_base table in that snapshot, so the
    # per-epoch read unions ≤ K fetch logs + 1 base instead of the crawl's
    # whole history (10^4-epoch crawls would otherwise pay a
    # linearly-growing listing + tiny-file scan every epoch)

    def __post_init__(self):
        # checked at construction, before seeding writes anything: a bad
        # value would otherwise surface mid-epoch, after fetching
        if self.budget_per_host < 1:
            raise ValueError("budget_per_host must be >= 1")
        if (self.tokens_capacity is not None
                and self.tokens_capacity < self.budget_per_host):
            raise ValueError("tokens_capacity must be >= budget_per_host")
        if self.filter_buckets < 1 or self.filter_buckets & (self.filter_buckets - 1):
            raise ValueError("filter_buckets must be a power of two")


def _snap_dir(root: str, epoch: int) -> str:
    # snapshot AFTER epoch e; e = -1 is the seeded initial state
    return os.path.join(root, f"snap_{epoch + 1:05d}")


def _manifest_path(root: str, epoch: int) -> str:
    return os.path.join(_snap_dir(root, epoch), "_manifest.json")


_SNAP_RE = re.compile(r"^snap_(\d{5})$")


def _check_local_root(root: str) -> None:
    """Manifests go through ``open`` and parquet tables are probed with
    ``os.path.isdir``: on a URI root every optional table reads as absent."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", root):
        raise ValueError(f"crawl root must be a local path, not a URI: {root!r}")


def last_complete_epoch(root: str) -> int | None:
    """Largest epoch with a complete snapshot, or None (no seed yet).

    Only strictly-conforming ``snap_NNNNN`` names count — stray entries
    (``snap_tmp``, editor leftovers) are skipped, not a resume-breaking
    ValueError."""
    best = None
    if not os.path.isdir(root):
        return None
    for name in os.listdir(root):
        m = _SNAP_RE.match(name)
        if m:
            e = int(m.group(1)) - 1
            if os.path.exists(_manifest_path(root, e)):
                best = e if best is None else max(best, e)
    return best


def _read_manifest(root: str, epoch: int) -> dict:
    with open(_manifest_path(root, epoch)) as f:
        return json.load(f)


def _frontier_refs(root: str, epoch: int) -> dict[int, int]:
    """bucket → epoch whose snapshot's frontier table holds its rows.

    A manifest WITHOUT the key predates the bucket-manifest format; fail
    loudly rather than read an empty frontier and silently report the
    crawl finished (an empty dict, by contrast, is a legitimately empty
    frontier)."""
    m = _read_manifest(root, epoch)
    if "frontier_refs" not in m:
        raise RuntimeError(
            f"snapshot {_snap_dir(root, epoch)} predates the bucket-manifest "
            "frontier format (no 'frontier_refs' in manifest); this crawl "
            "root cannot be resumed by this engine version — restart it"
        )
    return {int(k): int(v) for k, v in m["frontier_refs"].items()}


def _read_existing(spark: SparkSession, paths: list[str],
                   schema) -> DataFrame:
    """The union of the tables at ``paths`` that exist; absent ones read
    as empty.  A committed snapshot omits every table it would have
    written with zero rows: its manifest is the commit marker, so a table
    missing from a committed snapshot can only mean "no rows".

    With no table present the result is ``createDataFrame([]).limit(0)``:
    an empty ``LocalRelation`` whose size estimate is 0.  A bare
    ``createDataFrame([])`` plans as an RDD scan sized Long.MaxValue,
    which turns a downstream broadcast join into a sort-merge join (one
    more job in epoch 0's seen-check)."""
    fmt = get_table_format(spark)
    paths = [p for p in paths if fmt.exists(spark, p)]
    if not paths:
        return spark.createDataFrame([], schema).limit(0)
    return fmt.read(spark, paths, schema)


def read_frontier(spark: SparkSession, root: str, epoch: int,
                  buckets: list[int] | None = None) -> DataFrame:
    """Assemble the frontier at a snapshot from its bucket refs.

    ``buckets`` restricts the read to those host_buckets (the dirty set of
    a delta merge); file-level min/max stats on host_bucket prune the scan
    because each snapshot's frontier files are written repartitioned by
    bucket.  A referenced frontier table is read without an existence
    probe: a missing one means a corrupt root, and the read fails."""
    fmt = get_table_format(spark)
    refs = _frontier_refs(root, epoch)
    if buckets is not None:
        keep = set(buckets)
        refs = {b: e for b, e in refs.items() if b in keep}
    by_epoch: dict[int, list[int]] = {}
    for b, e in refs.items():
        by_epoch.setdefault(e, []).append(b)
    parts = []
    for e, bs in sorted(by_epoch.items()):
        scan = fmt.read(
            spark, [os.path.join(_snap_dir(root, e), "frontier")],
            FRONTIER_SCHEMA,
        )
        parts.append(scan.filter(F.col("host_bucket").isin(bs)))
    if not parts:
        return _read_existing(spark, [], FRONTIER_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _with_host_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "host_bucket", F.pmod(F.xxhash64("host"), F.lit(n_buckets)).cast("int")
    )


def _priority_col():
    """priority = 1/(1+depth) — shared by seed, discovery and merge."""
    return F.lit(1.0) / (1.0 + F.col("depth"))


def _trap_filter(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Crawler-trap guard over (depth, url_canon) rows — applied to seeds
    and to every discovery delta BEFORE robots resolution (a trapped URL
    must not trigger a robots fetch for its host; the oracle checks in
    the same order).  Pure JVM predicates, pushed into the scan."""
    if cfg.max_depth is not None:
        df = df.filter(F.col("depth") <= cfg.max_depth)
    if cfg.max_url_len is not None:
        df = df.filter(F.length("url_canon") <= cfg.max_url_len)
    return df


# the columns that identify a frontier row (everything but the derived
# priority); url_hash/host/host_bucket are functions of url_canon, so any
# F.first over same-url duplicates is deterministic
_IDENTITY_COLS = (
    "url_canon", "url_hash", "host", "host_bucket", "depth", "discovered_epoch",
)


# --- JVM canonicalization (F11 hot path) -----------------------------------
# Crawl link volume is the engine's biggest column workload (every fetched
# page emits links_per_page raw hrefs), and shipping them through Arrow to
# pandas made canonicalization the largest Python stage in the epoch — a
# poorly-scaling cost at wide parallelism (per-task Python overhead is
# ~100x a JVM task's).  The hybrid below computes the canonical form
# entirely in Catalyst expressions (whole-stage codegen) for every URL
# shape whose canonicalization is expressible exactly, and routes ONLY the
# residue through the Arrow UDF, masked to null for fast rows so the
# python stage moves near-zero data.  Exactness argument, mirrored by
# tests/test_urlnorm.py::test_jvm_canonicalize_matches_scalar:
#
# * fragment: ``canonicalize`` strips everything from the first '#'
#   (urlsplit) — substring_index(url, '#', 1) is the same cut.
# * gate (pre-query part): ^scheme://host(/path)?$ where host is
#   [A-Za-z0-9.-]+ (no port/userinfo/IDN) and path excludes ?#, ASCII
#   whitespace AND unicode whitespace — python's str.strip() trims
#   unicode space, so a fast path that admitted e.g. U+00A0 at the end
#   of a path would diverge; any such row falls to the residue UDF.
# * query: parse_qsl→sorted→urlencode is the identity-then-sort exactly
#   when every '&'-separated pair is k=v over urllib's always-safe set
#   [A-Za-z0-9_.~-] (no '%', '+', ';', or a second '='): unquote/quote
#   are identity there.  Sorting: python sorts (k, v) TUPLES; a plain
#   string sort of "k=v" diverges when one key prefixes another ('='
#   0x3D sorts above digits), so the pairs are sorted with '=' mapped to
#   ',' (0x2C — below every gated char) and mapped back after the join:
#   under that mapping bytewise string order IS tuple order.  Any other
#   query falls to the residue UDF.
# * scheme/host lowercase, empty path → '/': same expression both sides.
#
# PERFORMANCE CONTRACT: only codegen-friendly expressions — no
# higher-order functions (transform/forall/array_sort-with-comparator
# knock the whole projection out of whole-stage codegen into interpreted
# eval; measured ~350 µs/row, 5x SLOWER than the Arrow/pandas stage this
# replaces) and NO regex on the per-link hot path.  The r5 gate ran two
# anchored Java regexes per link; at the 4M-links/epoch bench width those
# regexes alone were ~8 s of a ~9 s gate stage (measured, r6).  The gate
# below recognizes the SAME language with translate()-based charset tests
# plus substring structure — each a single non-backtracking pass:
#
# * pre  ==  ^[A-Za-z][A-Za-z0-9+.-]*://[A-Za-z0-9.-]+(/[^?#WS]*)?\z
#   decomposed at the FIRST '://' (the regex's split too: scheme/host
#   charsets exclude ':' and '/'): scheme = alpha first char (ascii range
#   check) + every char in _SCHEME_CHARS (translate deletes them all);
#   host = nonempty prefix of hostpath up to the first '/', every char in
#   _HOST_CHARS — so the remainder (the path) is '' or starts with '/',
#   exactly the regex's optional group; path = no char of _PATH_BAD
#   (?, #, and python-strippable whitespace: Java-\s + U+001C-1F + the
#   unicode spaces — str.strip() trims these, so a fast path that kept
#   them would diverge from the scalar canonicalizer).
# * query ==  ^k=v(&k=v)*\z with k,v over [A-Za-z0-9_.~-], k nonempty:
#   a char-class regexp_replace (linear scan, no backtracking — kept
#   because translate cannot express "delete everything else") strips the
#   k/v charset; what remains (the =/& skeleton plus any ILLEGAL char)
#   must be exactly '=' alternating with '&' (starts/ends '=', no '==',
#   no '&&', nothing outside {=,&}), and the two empty-key shapes the
#   skeleton cannot see ('=v...' and '...&=v...') are guarded on q
#   itself.  Proof of equality with the pair regex: the skeleton is the
#   order-preserving projection of q onto its structural chars, so
#   "alternating, ends both sides with '='" <=> every '&'-piece has
#   exactly one '=', and the startswith/contains guards <=> every key is
#   nonempty.
#
# Rows that fail the gate go to the python residue, which is exact — a
# STRICTER gate can only cost speed, never correctness; equality with the
# old regex gate (and the scalar canonicalizer) is pinned over the
# adversarial corpus by tests/test_urlnorm.py.
_ASCII_ALNUM = ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
                "0123456789")
_SCHEME_CHARS = _ASCII_ALNUM + "+.-"
_HOST_CHARS = _ASCII_ALNUM + ".-"
_PATH_BAD = (
    "?# \t\n\x0b\f\r"                                  # '?', '#', Java \\s
    + "".join(chr(c) for c in range(0x1C, 0x20))       # U+001C-U+001F
    + "\x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))   # U+2000-U+200A
    + "\u2028\u2029\u202f\u205f\u3000"
)


def canonicalize_frame(df: DataFrame, raw_col: str) -> DataFrame:
    """Append (url_canon, host, path) for ``raw_col`` in one masked
    projection: JVM expressions compute all three for the rows the fast
    gate admits; every other row goes to the exact Arrow residue UDF.
    The UDF's input column is the raw URL masked to null on fast rows, so
    it runs over every row but only residue rows carry data across the
    JVM↔python boundary, and each output column picks the JVM or the UDF
    value by the same gate.  The gate is evaluated once per row (the
    projection's subexpression elimination shares it); row order is the
    input's."""
    s = F.trim(F.col(raw_col))  # ASCII-space trim; other edge whitespace
    # fails the fast gate and lands in the residue (python strips it)
    base = F.substring_index(s, "#", 1)
    pre = F.substring_index(base, "?", 1)
    qpos = F.locate("?", base)
    q = F.when(qpos > 0, base.substr(qpos + F.lit(1), F.length(base)))

    sp = F.locate("://", pre)  # first occurrence — a PATH may contain '://'
    hostpath = pre.substr(sp + F.lit(3), F.length(pre))
    host_raw = F.substring_index(hostpath, "/", 1)
    host_f = F.lower(host_raw)
    path_raw = hostpath.substr(
        F.length(host_f) + F.lit(1), F.length(hostpath)
    )
    scheme_raw = pre.substr(F.lit(1), sp - F.lit(1))
    scheme = F.lower(scheme_raw)
    path_f = F.when(path_raw == "", "/").otherwise(path_raw)

    first_c = F.ascii(scheme_raw)  # 0 for empty ⇒ fails both ranges
    scheme_ok = (
        (((first_c >= 65) & (first_c <= 90))
         | ((first_c >= 97) & (first_c <= 122)))
        & (F.length(F.translate(scheme_raw, _SCHEME_CHARS, "")) == 0)
    )
    host_ok = (F.length(host_raw) > 0) & (
        F.length(F.translate(host_raw, _HOST_CHARS, "")) == 0
    )
    path_ok = (
        F.length(F.translate(path_raw, _PATH_BAD, "")) == F.length(path_raw)
    )
    skel = F.regexp_replace(q, "[A-Za-z0-9_.~-]", "")
    q_ok = (
        (F.length(F.translate(skel, "=&", "")) == 0)
        & skel.startswith("=") & skel.endswith("=")
        & ~skel.contains("==") & ~skel.contains("&&")
        & ~q.startswith("=") & ~q.contains("&=")
    )
    is_fast = ((sp > 0) & scheme_ok & host_ok & path_ok
               & (q.isNull() | (q == "") | q_ok))
    # sort_array, NOT array_sort: array_sort carries an implicit lambda
    # comparator (a higher-order function), and ONE non-codegen expression
    # drops this whole Project to interpreted eval — per-row boxed
    # allocation that collapses wide-parallelism scaling (measured: the
    # 16-core 4M leg ran 2-3x slower than with codegen restored, while the
    # 4-core leg barely moved).  sort_array(asc) is the plain expression.
    q_sorted = F.translate(
        F.array_join(F.sort_array(F.split(F.translate(q, "=", ","), "&")), "&"),
        ",", "=",
    )
    canon_f = F.concat(
        scheme, F.lit("://"), host_f, path_f,
        F.when(q.isNull() | (q == ""), "").otherwise(
            F.concat(F.lit("?"), q_sorted)
        ),
    )

    @F.pandas_udf("struct<url_canon:string,host:string,path:string>")
    def _residue(raw: pd.Series) -> pd.DataFrame:
        from mlscraper_spark.crawl.urlnorm import canonicalize_series

        out = pd.DataFrame(
            {"url_canon": None, "host": None, "path": None},
            index=raw.index, dtype=object,
        )
        mask = raw.notna()
        if mask.any():
            out.loc[mask, ["url_canon", "host", "path"]] = (
                canonicalize_series(raw[mask]).to_numpy()
            )
        return out

    # A filter-split union (fast rows never entering python) and a
    # cache-backed split were both TRIED here this round and rejected by
    # measurement: any branch FILTER carrying the gate tree re-derives
    # every shared piece per reference (FilterExec has no subexpression
    # elimination — 6-8 s per filter pass at the 4M-link width), while
    # this masked projection evaluates the gate once with CSE and ships
    # only null-masked rows to python (~1.6 s total, vs ~18 s for the r5
    # regex gate in the same shape).  The Arrow round trip of a
    # null-masked column is validity bitmaps, not data — it was never the
    # dominant term; the regex gate was.
    slow = _residue(F.when(is_fast, F.lit(None)).otherwise(F.col(raw_col)))
    return df.withColumns(
        {
            "url_canon": F.when(is_fast, canon_f).otherwise(slow["url_canon"]),
            "host": F.when(is_fast, host_f).otherwise(slow["host"]),
            "path": F.when(is_fast, path_f).otherwise(slow["path"]),
        }
    )


def _frontier_rows(df: DataFrame) -> DataFrame:
    """Frontier table rows from identity-column rows: adds the derived
    priority, in FRONTIER_SCHEMA's column order."""
    return df.withColumn("priority", _priority_col()).select(
        "url_canon", "url_hash", "host", "host_bucket", "priority", "depth",
        "discovered_epoch",
    )


def _frontier_layout(df: DataFrame, n_buckets: int) -> DataFrame:
    """Frontier files are repartitioned by host_bucket (one bucket never
    spans tasks → tight file stats for bucket-pruned reads) and sorted by
    the politeness order within partitions so phase-1 top-k scans
    pre-sorted runs."""
    return df.repartition(n_buckets, "host_bucket").sortWithinPartitions(
        "host", F.desc("priority"), F.asc("url_hash"), F.asc("url_canon")
    )


def _commit_snapshot(spark: SparkSession, root: str, epoch: int,
                     writes: list, manifest: dict) -> None:
    """Write the snapshot after ``epoch``: every ``(df, name)`` in
    ``writes`` as concurrent seam writes, then the manifest.  The manifest
    is the atomic completion marker: it is written only after every table
    write has returned, so a failed write leaves no manifest and a resume
    redoes the epoch.  A table known to have no rows is left out of
    ``writes``; readers take its absence as empty (``_read_existing``)."""
    fmt = get_table_format(spark)
    d = _snap_dir(root, epoch)

    def write(df: DataFrame, name: str) -> None:
        # labels this thread's jobs, AQE stage jobs included
        spark.sparkContext.setLocalProperty("spark.job.description",
                                            f"write:{name}")
        fmt.write(df, os.path.join(d, name))

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futs = [pool.submit(write, df, name) for df, name in writes]
        for fut in futs:
            fut.result()  # propagate failures before the manifest exists
    with open(_manifest_path(root, epoch), "w") as f:
        json.dump(manifest, f)


def _discover(spark: SparkSession, rows: DataFrame, epoch: int,
              robots: DataFrame | None, cfg: CrawlConfig, adapter,
              caches: list) -> tuple[DataFrame, DataFrame]:
    """The URLs found in ``epoch`` as candidates for the next epoch:
    canonicalize the ``(depth, raw)`` rows, drop unparseable and trapped
    URLs, resolve robots for the hosts ``robots`` does not hold yet
    (``None``: no host is known — seeding, epoch -1) and drop what robots
    blocks.  The oracle inserts seeds and links through the same steps.

    Returns ``(candidates, robots_new)``: candidates carry
    ``_IDENTITY_COLS`` with ``discovered_epoch = epoch + 1`` and may
    repeat a URL; ``robots_new`` rows carry ``fetched_epoch = epoch + 1``.
    Both caches it creates are appended to ``caches`` for the caller to
    release."""
    # The cache sits DIRECTLY on the canonicalize output and every filter
    # sits above it: a filter below would have the masked canonicalize
    # projection inlined into its FilterExec condition (pushdown
    # substitutes the alias), and FilterExec does no subexpression
    # elimination — the gate tree re-evaluates per conjunct reference
    # (measured ~9 s/epoch at 4M links, r6).  Above the cache the filters
    # test stored columns.  The cache is also why canonicalize runs once
    # for its two consumers (the robots host scan + the candidate
    # pipeline).  path rides along so the robots filter can test it
    # directly instead of re-deriving it with a per-row parse_url.
    canon = canonicalize_frame(rows, "raw").select(
        "depth", "url_canon", "host", "path"
    ).cache()
    caches.append(canon)
    # an unparseable URL is dropped, never a phantom null-host frontier
    # row; the trap guard runs BEFORE robots: a trapped URL must not
    # trigger a robots fetch for its host (oracle order)
    disc = _trap_filter(canon.filter(F.col("url_canon").isNotNull()), cfg)
    hosts = disc.select("host")
    if robots is not None:
        hosts = hosts.join(robots.select("host"), "host", "left_anti")
    # cache: robots_new feeds the robots filter below AND the snapshot
    robots_new = _robots_rules_df(spark, hosts, epoch + 1, adapter).cache()
    caches.append(robots_new)
    known = robots_new if robots is None else robots.unionByName(robots_new)
    disc = _filter_robots(disc, known, adapter)
    return _with_host_bucket(disc, cfg.n_buckets).withColumns({
        "url_hash": F.xxhash64("url_canon"),
        "discovered_epoch": F.lit(epoch + 1),
    }).select(*_IDENTITY_COLS), robots_new


def seed_crawl(spark: SparkSession, root: str, seeds, web: WebConfig,
               cfg: CrawlConfig, fetch_adapter=None) -> None:
    """Write the epoch=-1 snapshot: the seeded frontier and the seed
    hosts' robots rules.  URL-seen and the filters start empty, so the
    snapshot has no table for them (see ``_read_existing``).
    Seeds are epoch -1's discoveries at depth 0: they go through the
    epoch's discovery stage (``_discover``), robots resolved by
    ``fetch_adapter`` (the same seam as the epoch loop's fetch stage).

    ``seeds`` is either a ``list[str]`` (small, driver-resident — tests and
    interactive use) or a single-string-column ``DataFrame`` (the scale
    path: a 100 TB deployment's seed list lives in storage or is generated
    distributedly, never materialized on the driver.  A driver list is
    embedded into every task binary — ~8 MB at 1.2M seeds, a
    cores-independent cost the N-vs-4N ladder measures directly)."""
    _check_local_root(root)
    adapter = fetch_adapter or SynthWebAdapter(web)
    if isinstance(seeds, DataFrame):
        raw = seeds.select(F.col(seeds.columns[0]).cast("string").alias("raw"))
    else:
        # Arrow path (one pandas column), not createDataFrame(list-of-tuples):
        # row-by-row conversion serializes the whole seed list on the DRIVER —
        # a cores-independent cost that at ladder widths (300k-1.2M seeds)
        # dominates the seed snapshot and drags the N-vs-4N efficiency ratio.
        # Explicit schema: an empty seed list otherwise breaks inference
        # (pandas object column with no rows → "can not infer schema").
        raw = spark.createDataFrame(pd.DataFrame({"raw": seeds}),
                                    schema="raw string")
    # every cache is released in the finally block, also when a write
    # throws
    caches: list[DataFrame] = []
    try:
        cand, robots = _discover(
            spark, raw.select(F.lit(0).alias("depth"), "raw"), -1, None, cfg,
            adapter, caches,
        )
        frontier = _frontier_rows(cand).dropDuplicates(["url_canon"]).cache()
        caches.append(frontier)
        bucket_rows = frontier.groupBy("host_bucket").count().collect()
        # the manifest records the seeded FRONTIER (canonicalized, deduped,
        # robots-filtered), so the same seeds given as a list or as a
        # DataFrame write the same manifest; it falls out of the bucket
        # collect
        _commit_snapshot(
            spark, root, -1,
            [(_frontier_layout(frontier, cfg.n_buckets), "frontier"),
             (robots, "robots_delta")],
            {
                "epoch": -1,
                "seeds": sum(r["count"] for r in bucket_rows),
                "frontier_refs": {
                    str(b): -1
                    for b in sorted(r.host_bucket for r in bucket_rows)
                },
            },
        )
    finally:
        for df_ in caches:
            df_.unpersist()


def _robots_rules_df(spark: SparkSession, hosts_df: DataFrame, epoch: int,
                     adapter) -> DataFrame:
    """S6/J8 robots cache rows for the given hosts.  Rules come from the
    fetch adapter's ``robots(host)`` (crawl/fetchers.FetchAdapter) — the
    synthetic web's pure-function rules by default, a real
    ``GET /robots.txt`` under HttpFetchAdapter — so a deployed crawl obeys
    the robots of the web it actually fetches from, through the same seam
    as fetch itself.  When the adapter provides ``robots_col`` (a Catalyst
    expression equal to its python rules — the synthetic web's are a pure
    function of the host), the whole stage is JVM codegen; otherwise the
    adapter is pickled into python workers, one robots resolution per NEW
    host per crawl (callers pass only never-seen-before hosts)."""
    hosts = hosts_df.select("host").distinct()
    col = adapter.robots_col(F.col("host"))
    if col is not None:
        return hosts.select(
            "host", col.alias("rules_json"),
            F.lit(epoch).cast("int").alias("fetched_epoch"),
        )

    def _rules(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "host": pdf["host"],
                    "rules_json": pdf["host"].map(
                        lambda h: json.dumps(adapter.robots(h))
                    ),
                    "fetched_epoch": epoch,
                }
            )

    return hosts.mapInPandas(_rules, ROBOTS_SCHEMA)


def _filter_robots(df: DataFrame, robots: DataFrame, adapter) -> DataFrame:
    """Drop rows ``fetchers.robots_blocked`` blocks: RFC 9309 longest-match
    over ``+``-encoded Allow / plain Disallow prefixes (J8).

    Two plans, same semantics: when the adapter supplies
    ``robots_blocked_col`` (rules a pure function of the host), the filter
    is a single codegen predicate — no join, no broadcast build, nothing
    serial on the driver.  Otherwise a broadcast join against the resolved
    rules table; pure-function rules make the two identical because every
    table row was itself produced by the adapter.

    ``df`` carries the ``path`` column canonicalize_frame computed (pinned
    equal to urlsplit().path by tests/test_urlnorm.py), so no per-row URL
    parse is repeated here."""
    # coalesce: a NULL path would nullify exists() and silently drop the
    # row; the oracle's urlsplit returns '' there
    path_expr = F.coalesce(F.col("path"), F.lit(""))
    blocked_col = adapter.robots_blocked_col(F.col("host"), path_expr)
    if blocked_col is not None:
        return df.filter(~blocked_col)
    with_path = df.withColumn("path", path_expr)
    # broadcast only hosts with NON-EMPTY rules: a host absent from the
    # build side left-joins to null → rules [] → not blocked, exactly the
    # empty-rules outcome — and most hosts have no rules, so the broadcast
    # build (a serial driver-side collect) shrinks several-fold
    rules_nonempty = robots.select("host", "rules_json").filter(
        ~F.col("rules_json").isin("[]", "")
    )
    joined = with_path.join(F.broadcast(rules_nonempty), "host", "left")
    rules = F.from_json(F.coalesce(F.col("rules_json"), F.lit("[]")), "array<string>")
    # RFC 9309 longest-match, the JVM mirror of fetchers.robots_blocked:
    # longest matching Disallow must strictly beat the longest matching
    # Allow ('+'-prefixed; ties -> allow).  HOFs are fine on THIS path —
    # it only runs for adapters without a pure-function robots_blocked_col
    # (e.g. HttpFetchAdapter), where the broadcast join already dominates.
    path = F.col("path")
    dis_len = F.array_max(F.transform(
        rules,
        lambda r: F.when(
            (r.substr(1, 1) != "+") & path.startswith(r), F.length(r)
        ).otherwise(F.lit(-1)),
    ))
    alw_len = F.array_max(F.transform(
        rules,
        lambda r: F.when(
            (r.substr(1, 1) == "+")
            & path.startswith(r.substr(F.lit(2), F.length(r))),
            F.length(r) - 1,
        ).otherwise(F.lit(-1)),
    ))
    blocked = (F.coalesce(dis_len, F.lit(-1))
               > F.coalesce(alw_len, F.lit(-1)))
    return joined.filter(~blocked).drop("path", "rules_json")


# ---------------------------------------------------------------------------
# politeness (T6): two-phase per-host top-k — no Exchange over the frontier
# ---------------------------------------------------------------------------

_ORDER_COLS = ["priority", "url_hash", "url_canon"]
_ORDER_ASC = [False, True, True]


def _pdf_topk(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    pdf = pdf.sort_values(_ORDER_COLS, ascending=_ORDER_ASC, kind="mergesort")
    return pdf[pdf.groupby("host").cumcount() < budget]


def _partition_topk(batches: Iterator[pd.DataFrame], budget: int) -> pd.DataFrame | None:
    """Per-host top-``budget`` over one partition's Arrow batches.

    Merges geometrically: re-merge only once the rows added since the last
    merge exceed the retained set (or 64k, whichever is larger).  Each merge
    of size S consumes ≥ S/2 fresh rows, so total sort work is O(N log N) in
    the partition size.  A fixed "size > 65536" trigger is quadratic when the
    retained set itself exceeds the threshold (many distinct hosts): every
    subsequent Arrow batch re-sorts the whole accumulation — measured 10×
    superlinear on the 4-core 4M-width select stage before this fix.
    Memory stays bounded by retained + pending ≤ ~2× the final result."""
    parts: list[pd.DataFrame] = []
    pending = 0   # rows appended since the last merge
    retained = 0  # size of the last merged result
    for pdf in batches:
        t = _pdf_topk(pdf, budget)
        parts.append(t)
        pending += len(t)
        if pending > max(65536, retained):
            merged = _pdf_topk(pd.concat(parts, ignore_index=True), budget)
            parts, pending, retained = [merged], 0, len(merged)
    if not parts:
        return None
    if len(parts) == 1:
        return parts[0]
    return _pdf_topk(pd.concat(parts, ignore_index=True), budget)


def _token_params(cfg: CrawlConfig) -> tuple[int, int]:
    cap = cfg.tokens_capacity if cfg.tokens_capacity is not None else cfg.budget_per_host
    return cap, cfg.budget_per_host


def _avail_col(tokens_col, cap: int, refill: int):
    """Available tokens this epoch: absent host = full bucket = cap;
    tracked host = min(cap, stored + refill).  Integer arithmetic —
    deterministic, shared shape with the oracle."""
    return F.when(tokens_col.isNull(), F.lit(cap)).otherwise(
        F.least(F.lit(cap), tokens_col + F.lit(refill))
    )


def _politeness_select(frontier: DataFrame, cfg: CrawlConfig,
                       host_tokens: DataFrame | None = None) -> DataFrame:
    """Per-host token-bucket top-k under (priority DESC, url_hash,
    url_canon).

    Phase 1 (Arrow stage over the scan, no shuffle): per-partition per-host
    top-CAPACITY — a superset of the global winners for ANY row→partition
    assignment and any avail ≤ capacity, so phase 2 — an exact window
    top-k over that small union, joined with the (small) host-token state
    — yields exactly the oracle's selection.  The frontier itself is never
    exchanged; when stored buckets keep hosts partition-local (the layout
    ``_frontier_layout`` produces), phase 1 already emits the exact answer
    and phase 2's shuffle moves only ~capacity×hosts rows."""
    cap, refill = _token_params(cfg)
    budget = cap
    cols = frontier.columns

    def _phase1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = _partition_topk(batches, budget)
        if out is not None:
            yield out[cols]

    local = frontier.mapInPandas(
        _phase1, ", ".join(f"{c} {t}" for c, t in frontier.dtypes)
    )
    w_host = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("url_hash"), F.asc("url_canon")
    )
    ranked = local.withColumn("rn", F.row_number().over(w_host))
    if cap == refill or host_tokens is None:
        # degenerate bucket (avail is always cap) — no state join needed
        return ranked.filter(F.col("rn") <= budget).drop("rn")
    joined = ranked.join(host_tokens.withColumnRenamed("tokens", "_tok"),
                         "host", "left")
    return (
        joined.filter(F.col("rn") <= _avail_col(F.col("_tok"), cap, refill))
        .drop("rn", "_tok")
    )


# ---------------------------------------------------------------------------
# deterministic global fetch order (seq)
# ---------------------------------------------------------------------------


def _assign_global_seq(spark: SparkSession, df: DataFrame) -> tuple[DataFrame, int]:
    """Deterministic global ``seq`` under the total order (priority DESC ⇔
    depth ASC, url_hash ASC, url_canon ASC) without a single-partition
    window and without sampling:

    * pid = depth·K + hash_range_bucket(url_hash) — a pure FUNCTION of the
      row (url_hash is xxhash64, uniform over int64, so K static
      equal-width ranges balance); pid ascending ⇔ order-prefix ascending;
    * rank locally per pid, count per pid, cumulative offsets joined back
      via a broadcast join (a when()-chain or RangePartitioner would be
      pathological / nondeterministic at cluster partition counts).

    Unlike range partitioning there is no sampled boundary state: any
    recomputation reproduces identical pids, ranks and offsets, so no
    lineage cut is needed for exactness under task retries.

    Returns ``(df_with_seq, n_rows)`` — the total falls out of the offsets
    collect for free, so callers need no separate count() action (each
    driver action costs ~0.5 s of plan+submit regardless of cluster size;
    the epoch loop's actions are a measured serial term in the N-vs-4N
    scaling ladder)."""
    # K is a CONSTANT, not cores×2: seq is total-order-invariant under any
    # K (tested), so tying it to defaultParallelism only made the plan —
    # and the window's task sizes — differ between cluster widths for no
    # semantic reason.  128 buckets × depth keeps each pid's local sort
    # small at any realistic epoch width while the offsets collect stays
    # O(depths×128) rows.
    k = 7
    K = 1 << k
    bucket = F.shiftright(F.col("url_hash"), 64 - k) + F.lit(1 << (k - 1))
    ranked = df.withColumn(
        "_pid", F.col("depth").cast("long") * K + bucket
    )
    w = Window.partitionBy("_pid").orderBy(F.asc("url_hash"), F.asc("url_canon"))
    ranked = ranked.withColumn("_rn", F.row_number().over(w))
    counts = {
        r._pid: r.cnt
        for r in ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets, "_pid long, _off long")
    out = (
        ranked.join(F.broadcast(off_df), "_pid")
        .withColumn("seq", (F.col("_off") + F.col("_rn") - 1).cast("int"))
        .drop("_pid", "_rn", "_off")
    )
    return out, acc


# ---------------------------------------------------------------------------
# fetch + cuckoo stages
# ---------------------------------------------------------------------------


def _fetch_udf(web: WebConfig, fetch_adapter=None,
               scraper_plan: dict | None = None, emit_images: bool = False):
    """Arrow fetch stage.  ``fetch_adapter`` (crawl/fetchers.FetchAdapter)
    makes the transport injectable — the synthetic web by default, an
    HttpFetchAdapter for real deployments — without touching the epoch
    loop; the adapter is pickled into the python workers.

    This is the only place a crawled page is fetched.  With a
    ``scraper_plan`` and/or ``emit_images`` it also parses each
    status-200 body once (``operators.extract.page_payload``) and emits
    ``value_json`` and/or the ``images`` metadata column — (src, caption,
    w, h) only: the encoded image bytes are ~40x the rest of a fetched
    row, so the codec runs downstream of the cache, at the table write.
    Without either, no page is parsed."""
    fields = [
        T.StructField("url_canon", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("host_bucket", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("n_links", T.IntegerType()),
        T.StructField("n_images", T.IntegerType()),
        T.StructField("page_fp", T.LongType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
    if scraper_plan:
        fields.append(T.StructField("value_json", T.StringType()))
    if emit_images:
        fields.append(T.StructField("images", T.ArrayType(T.StructType([
            T.StructField("src", T.StringType()),
            T.StructField("caption", T.StringType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
        ]))))
    out_schema = T.StructType(fields)

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.crawl.fetchers import SynthWebAdapter
        from mlscraper_spark.crawl.urlnorm import content_fp
        from mlscraper_spark.operators.extract import page_payload

        adapter = fetch_adapter or SynthWebAdapter(web)
        for pdf in batches:
            rows = []
            for url, host, hb, seq, depth in zip(
                pdf["url_canon"], pdf["host"], pdf["host_bucket"], pdf["seq"],
                pdf["depth"],
            ):
                status, html = adapter.fetch(url)
                links, n_images = adapter.response_meta(url, status, html)
                # content fingerprint of successful pages: the same page
                # served under different canonical URLs (query-string
                # mirrors) hashes identically, which is what crawl-time
                # content dedup keys on; non-200 bodies carry no content
                page_fp = content_fp(bytes(html)) if status == 200 else None
                row = [url, host, int(hb), int(seq), int(depth), status,
                       len(links), n_images, page_fp, links]
                if scraper_plan or emit_images:
                    value_json, images = (
                        page_payload(html, scraper_plan, emit_images)
                        if status == 200 else (None, None)
                    )
                    if scraper_plan:
                        row.append(value_json)
                    if emit_images:
                        row.append(images)
                rows.append(row)
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return _fetch, out_schema


# typed zero / pandas dtype per Spark simple type, for the fused cogroup's
# filter row below.  The filter row's candidate columns are never consumed
# (readers project by ``kind``), but they carry REAL typed values so the
# concat in _fuse_frames never pairs an all-NA column with a typed one —
# pandas' concat dtype-inference FutureWarning trap.  All-NA OBJECT columns
# meeting object columns (blob/fingerprint on the candidate rows) are
# warning-free and inference-stable.
_TYPED_ZERO = {"string": "", "bigint": 0, "int": 0, "double": 0.0,
               "float": 0.0, "boolean": False}
_PD_DTYPE = {"string": object, "bigint": "int64", "int": "int32",
             "double": "float64", "float": "float32", "boolean": bool}


def _fuse_frames(cand_dtypes: list, cpdf: pd.DataFrame, maybe_seen,
                 blob: bytes, fingerprint: str, bucket: int) -> pd.DataFrame:
    """Assemble one cogroup output frame: one ``kind='f'`` filter row
    (blob + lineage fingerprint) followed by the ``kind='c'`` candidate
    rows.  Module-level pure-pandas so the no-FutureWarning contract is
    pinned by an in-process test (worker-side warnings never reach
    pytest's filters); Arrow casts the result back per the cogroup's
    out_schema, so exact frame dtypes are cosmetic — what matters is that
    no concat operand has an all-NA column facing a differently-typed one.
    """
    cols = {c: pd.Series([_TYPED_ZERO[t]], dtype=_PD_DTYPE[t])
            for c, t in cand_dtypes}
    cols["host_bucket"] = pd.Series([bucket], dtype="int32")
    frow = pd.DataFrame({
        **cols,
        "maybe_seen": pd.Series([False]),
        "blob": pd.Series([blob], dtype=object),
        "fingerprint": pd.Series([fingerprint], dtype=object),
        "kind": pd.Series(["f"], dtype=object),
    })
    if not len(cpdf):
        return frow
    out = cpdf.copy()
    out["maybe_seen"] = maybe_seen
    out["blob"] = None
    out["fingerprint"] = None
    out["kind"] = "c"
    return pd.concat([frow, out], ignore_index=True)


def _merge_frontier_delta(old_dirty: DataFrame, vetted: DataFrame,
                          selected: DataFrame) -> DataFrame:
    """Next-frontier content for the dirty buckets in ONE hash
    aggregation: the oracle's per-URL merge rule (MIN depth, MIN
    discovered_epoch over surviving old rows ∪ vetted discoveries) fused
    with the removal of this epoch's fetched URLs.

    ``selected`` rows enter the union as kill markers (null identity
    columns, ``_fetched=1``); any group containing a marker is dropped.
    Equivalent to the previous anti-join-then-merge, but with no join and
    ONE Exchange (the aggregation's own, on url_canon) instead of a join
    exchange followed by the merge's groupBy exchange — and with no
    broadcast of the epoch-width fetch set anywhere, so the plan is the
    same at any cluster size (pinned by
    test_crawl.py::test_delta_merge_single_exchange_no_join).

    Correct because url_hash/host/host_bucket are pure functions of
    url_canon (any non-null FIRST is exact), vetted never contains a
    fetched URL (the seen-check already excludes this epoch's selected
    URLs), and MIN/MAX are union-order-insensitive."""
    rows = (
        old_dirty.select(*_IDENTITY_COLS).withColumn("_fetched", F.lit(0))
        .unionByName(
            vetted.select(*_IDENTITY_COLS).withColumn("_fetched", F.lit(0))
        )
        .unionByName(
            selected.select("url_canon").withColumn("_fetched", F.lit(1)),
            allowMissingColumns=True,
        )
    )
    return (
        rows.groupBy("url_canon")
        .agg(
            F.first("url_hash", ignorenulls=True).alias("url_hash"),
            F.first("host", ignorenulls=True).alias("host"),
            F.first("host_bucket", ignorenulls=True).alias("host_bucket"),
            F.min("depth").alias("depth"),
            F.min("discovered_epoch").alias("discovered_epoch"),
            F.max("_fetched").alias("_fetched"),
        )
        .filter(F.col("_fetched") == 0)
        .drop("_fetched")
    )


def _update_and_split(filters: DataFrame, selected: DataFrame,
                      cand: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """ONE cogroup pass per host_bucket: insert this epoch's fetched
    url_hashes into the bucket's cuckoo blob, then flag the bucket's
    candidate discoveries against the UPDATED filter (P10/E5, fused).

    Two chained cogroups (update-blobs → check-candidates) re-shuffled
    the MB-sized blobs between the stages every epoch; fusing removes a
    full shuffle + python stage.  Output rows are tagged:
    ``kind='f'`` rows carry (blob, fingerprint) — the next filters
    snapshot; ``kind='c'`` rows carry the candidate columns +
    ``maybe_seen`` (False ⇒ definitely new).  Semantics are identical to
    the two-stage form: per bucket the blob updates first (SORTED insert
    order, so blob bytes and the manifest's md5 lineage fingerprints stay
    a pure function of the hash SET under any shuffle arrival order),
    then candidates are checked against the updated filter.  A bucket
    seen only in candidates emits an empty filter blob — equivalent to
    the previous absent-row convention (readers treat both as empty).

    The cogroup ALSO performs the oracle's within-epoch merge rule on the
    candidates (one row per url_canon, MIN depth; discovered_epoch is
    constant within an epoch): url_canon determines host_bucket, so the
    dedup is exact per bucket, and folding it in here means the raw
    discovery delta shuffles ONCE (to this cogroup) instead of paying a
    separate groupBy(url_canon) exchange first."""
    cand_dtypes = cand.dtypes
    cand_cols = [c for c, _ in cand_dtypes]
    tagged = cand.withColumn("is_seen", F.lit(False)).unionByName(
        selected.select("host_bucket", "url_hash",
                        F.lit(True).alias("is_seen")),
        allowMissingColumns=True,
    )
    out_schema = (
        ", ".join(f"{c} {t}" for c, t in cand.dtypes)
        + ", maybe_seen boolean, blob binary, fingerprint string, kind string"
    )

    def _fuse(key, blob_pdf, mixed_pdf):
        import hashlib

        import numpy as np

        from mlscraper_spark.crawl.cuckoo import CuckooFilter

        if len(blob_pdf) and blob_pdf["blob"].iloc[0] is not None:
            flt = CuckooFilter.from_bytes(
                bytes(blob_pdf["blob"].iloc[0]), cfg.filter_buckets
            )
        else:
            flt = CuckooFilter(cfg.filter_buckets)
        seen = mixed_pdf[mixed_pdf["is_seen"]]
        cpdf = mixed_pdf[~mixed_pdf["is_seen"]]
        if len(cpdf):
            # within-epoch merge rule (MIN depth per url_canon): stable
            # sort + keep-first is deterministic — rows with equal
            # (url_canon, depth) are fully identical this epoch
            cpdf = cpdf.sort_values(
                ["url_canon", "depth"], kind="mergesort"
            ).drop_duplicates("url_canon", keep="first")
        if len(seen):
            flt.insert_many(np.sort(seen["url_hash"].to_numpy(np.int64)))
        blob = flt.to_bytes()
        maybe_seen = (
            flt.contains_many(cpdf["url_hash"].to_numpy(np.int64))
            if len(cpdf)
            else np.zeros(0, dtype=bool)
        )
        return _fuse_frames(
            cand_dtypes, cpdf[cand_cols], maybe_seen, blob,
            hashlib.md5(blob).hexdigest(), int(key[0]),
        )

    return filters.select("host_bucket", "blob").groupBy("host_bucket").cogroup(
        tagged.groupBy("host_bucket")
    ).applyInPandas(_fuse, out_schema)


def _base_epoch(root: str, epoch: int, key: str) -> int | None:
    """Epoch whose snapshot holds the named compacted base table, or None."""
    return _read_manifest(root, epoch).get(key)


def _read_base_plus_deltas(spark: SparkSession, root: str, upto_epoch: int,
                           base_key: str, base_table: str, delta_table: str,
                           schema: str) -> DataFrame:
    """An append-only table as of a snapshot: the latest compacted
    ``base_table`` (if any) plus the ``delta_table`` dirs after it — the
    Iceberg base+delta shape; periodic compaction bounds the union width
    at seen_compact_every regardless of crawl age.  Base and deltas are
    projected to ``schema`` separately (URL-seen's deltas are the wider
    fetch logs; ``IcebergSnapshotFormat.read`` ignores ``schema``)."""
    cols = [c.split()[0] for c in schema.split(",")]
    base = _base_epoch(root, upto_epoch, base_key)
    start = -1 if base is None else base + 1
    out = _read_existing(spark, [
        os.path.join(_snap_dir(root, e), delta_table)
        for e in range(start, upto_epoch + 1)
    ], schema).select(*cols)
    if base is not None:
        out = _read_existing(
            spark, [os.path.join(_snap_dir(root, base), base_table)], schema,
        ).select(*cols).unionByName(out)
    return out


def read_url_seen(spark: SparkSession, root: str, upto_epoch: int) -> DataFrame:
    """The URLs fetched up to ``upto_epoch`` (the oracle's ``url_seen``)."""
    return _read_base_plus_deltas(
        spark, root, upto_epoch, "seen_base_epoch", "url_seen_base",
        "fetch_log", SEEN_SCHEMA,
    )


def read_host_tokens(spark: SparkSession, root: str, epoch: int) -> DataFrame:
    """Politeness token state after an epoch; absent table = every host
    at full capacity (the default-config path never writes one)."""
    return _read_existing(
        spark, [os.path.join(_snap_dir(root, epoch), "host_tokens")],
        HOST_TOKENS_SCHEMA,
    )


def _next_host_tokens(host_tokens: DataFrame, sel_counts: DataFrame,
                      cfg: CrawlConfig) -> DataFrame:
    """Refill every tracked host, consume where fetched, forget hosts
    whose next avail is back at capacity (keeps the table sized by
    recently-throttled hosts, not by all hosts ever seen)."""
    cap, refill = _token_params(cfg)
    j = host_tokens.withColumnRenamed("tokens", "_tok").join(
        sel_counts, "host", "full_outer"
    )
    left = _avail_col(F.col("_tok"), cap, refill) - F.coalesce(
        F.col("n_sel"), F.lit(0)
    )
    return (
        j.withColumn("tokens", left.cast("int"))
        .filter(F.least(F.lit(cap), F.col("tokens") + F.lit(refill)) < cap)
        .select("host", "tokens")
    )


def read_robots(spark: SparkSession, root: str, upto_epoch: int) -> DataFrame:
    return _read_base_plus_deltas(
        spark, root, upto_epoch, "robots_base_epoch", "robots_base",
        "robots_delta", ROBOTS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# the epoch
# ---------------------------------------------------------------------------


def run_epoch(spark: SparkSession, root: str, epoch: int, web: WebConfig,
              cfg: CrawlConfig, fetch_adapter=None, *,
              scraper_plan: dict | None = None,
              emit_images: bool = False) -> int:
    """Run one BSP epoch; returns number of URLs fetched.  0 means the
    frontier is drained: nothing is fetched and no snapshot is written,
    so the crawl ends at the previous snapshot (an empty frontier never
    refills — every host with a frontier row has at least one token).
    ``scraper_plan``/``emit_images`` add the epoch's payload tables (see
    ``run_crawl``)."""
    _check_local_root(root)
    adapter = fetch_adapter or SynthWebAdapter(web)
    refs = _frontier_refs(root, epoch - 1)
    host_tokens = read_host_tokens(spark, root, epoch - 1)

    # ---- politeness top-k (T6) + global fetch order --------------------
    # the politeness output is cached BEFORE seq assignment: the seq
    # offsets collect inside _assign_global_seq materializes this cache,
    # so the frontier scan + two-phase top-k run exactly once per epoch
    pol = _politeness_select(
        read_frontier(spark, root, epoch - 1), cfg, host_tokens
    ).cache()
    # n_selected falls out of the seq-offsets collect — no separate
    # count() action; the selected cache materializes inside the fetch job
    selected, n_selected = _assign_global_seq(spark, pol)
    selected = selected.cache()
    # every cache is released in the finally block, also when a stage
    # throws (long sessions run many crawls)
    caches = [selected, pol]
    try:
        if n_selected == 0:
            return 0

        # ---- fetch + parse (S4, Arrow-batched, spread by url_hash) -----
        fetch_fn, fetch_schema = _fetch_udf(web, fetch_adapter, scraper_plan,
                                            emit_images)
        # Task count is a function of DATA SIZE (one task per ~50k URLs —
        # the maxPartitionBytes analog: bounds worst-case fetch-result
        # memory per python worker and retry re-fetch granularity),
        # floored at the core count so a small epoch still uses the whole
        # cluster.  Data-sized, not cores×K-sized, because every python
        # task carries a measured ~0.2-0.3 s of fixed overhead (Arrow
        # stream + worker round-trip): a 4-waves-per-core policy made the
        # per-epoch overhead GROW with cluster width — the N-vs-4N ladder
        # bills that directly to the wide side.  Partition count never
        # changes results (politeness is enforced upstream), only task
        # granularity.
        n_fetch = max(spark.sparkContext.defaultParallelism,
                      n_selected // 50_000 + 1)
        fetched = (
            selected.select("url_canon", "url_hash", "host", "host_bucket",
                            "seq", "depth")
            .repartition(n_fetch, "url_hash")
            .drop("url_hash")
            .mapInPandas(fetch_fn, fetch_schema)
            .cache()
        )
        caches.append(fetched)

        # ---- discoveries: canonicalize, trap, robots (F11/J8) ----------
        robots = read_robots(spark, root, epoch - 1)
        # within-epoch dedup happens INSIDE the seen-check cogroup (same
        # host_bucket key — saves a full groupBy(url_canon) exchange of
        # the raw delta)
        adds, robots_new = _discover(
            spark,
            fetched.select((F.col("depth") + 1).alias("depth"),
                           F.explode("links").alias("raw")),
            epoch, robots, cfg, adapter, caches,
        )

        # ---- fused cuckoo update + seen-check of the DELTA only (P10/E5)
        # this epoch's fetch log holds exactly the selected URLs, so the
        # URL-seen set after the epoch is the set before it plus selected
        url_seen_all = read_url_seen(spark, root, epoch - 1).unionByName(
            selected.select("url_canon")
        )
        filters = _read_existing(
            spark, [os.path.join(_snap_dir(root, epoch - 1), "filters")],
            FILTERS_SCHEMA,
        )
        # cache: the single cogroup output feeds the filters snapshot, the
        # fingerprint collect, AND both flag branches — without it the
        # whole discovery pipeline + blob rebuild would run once per
        # consumer
        fused = _update_and_split(filters, selected, adds, cfg).cache()
        caches.append(fused)
        filters_new = fused.filter(F.col("kind") == "f").select(
            "host_bucket", "blob", "fingerprint"
        )
        flagged = fused.filter(F.col("kind") == "c").drop(
            "blob", "fingerprint", "kind"
        )
        definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        survived = maybe.join(url_seen_all, "url_canon", "left_anti")
        vetted = definitely_new.unionByName(survived).cache()
        caches.append(vetted)

        # ---- delta merge: rewrite DIRTY buckets only ---------------------
        # ONE job collects both per-bucket facts the driver needs this
        # epoch: the dirty-bucket set (selected ∪ vetted markers,
        # fingerprint NULL) and the manifest's filter fingerprints ('f'
        # rows).  All inputs are cached (or derive from caches), so the
        # union scans caches; O(buckets) rows.
        _null_fp = F.lit(None).cast("string").alias("fingerprint")
        bucket_info = (
            selected.select("host_bucket", _null_fp)
            .unionByName(vetted.select("host_bucket", _null_fp))
            .unionByName(filters_new.select("host_bucket", "fingerprint"))
            .distinct()
            .collect()
        )
        dirty = sorted({r.host_bucket for r in bucket_info
                        if r.fingerprint is None})
        fingerprints = {str(r.host_bucket): r.fingerprint for r in bucket_info
                        if r.fingerprint is not None}
        new_refs = dict(refs)
        for b in dirty:
            new_refs[b] = epoch
        if len(set(new_refs.values())) > cfg.max_ref_span:
            # compaction: rewrite every bucket into this snapshot so the
            # ref chain stays short and old snapshots can be expired
            dirty = sorted(set(refs) | set(dirty))
            new_refs = {b: epoch for b in dirty}
        frontier_dirty = _frontier_rows(_merge_frontier_delta(
            read_frontier(spark, root, epoch - 1, buckets=dirty),
            vetted, selected,
        ))

        # ---- snapshot ----------------------------------------------------
        writes = [
            (_frontier_layout(frontier_dirty, max(1, len(dirty))), "frontier"),
            (fetched.select(
                F.lit(epoch).alias("epoch"), "seq", "url_canon", "host",
                "status", "n_links", "n_images", "page_fp",
            ), "fetch_log"),
            (robots_new, "robots_delta"),
            (filters_new, "filters"),
        ]
        # payload tables come from the columns the fetch stage already
        # emitted into the cached ``fetched`` frame: no second fetch or
        # parse, and the manifest commits them atomically with the epoch
        ok = fetched.filter(F.col("status") == 200)
        if scraper_plan:
            writes.append((ok.select("url_canon", "value_json"), "extractions"))
        if emit_images:
            from mlscraper_spark.images.ops import encode_images

            writes.append((
                encode_images(ok.select(F.explode("images").alias("im"))
                              .select("im.*")),
                "images",
            ))
        # politeness token state — only when the bucket is non-degenerate
        # (cap == refill keeps this table nonexistent and costs nothing)
        cap, refill = _token_params(cfg)
        if cap > refill:
            sel_counts = selected.groupBy("host").agg(
                F.count(F.lit(1)).alias("n_sel")
            )
            writes.append(
                (_next_host_tokens(host_tokens, sel_counts, cfg), "host_tokens")
            )
        # periodic URL-seen/robots compaction: fold base + all deltas
        # (incl. this epoch's) into a fresh base so reads stay
        # O(seen_compact_every) wide regardless of crawl age
        compact = (epoch + 1) % cfg.seen_compact_every == 0
        if compact:
            writes.append((url_seen_all, "url_seen_base"))
            writes.append((robots.unionByName(robots_new), "robots_base"))
        _commit_snapshot(spark, root, epoch, writes, {
            "epoch": epoch,
            "n_fetched": n_selected,
            "filter_fingerprints": fingerprints,
            "frontier_refs": {str(b): e for b, e in sorted(new_refs.items())},
            "seen_base_epoch": epoch if compact else _base_epoch(
                root, epoch - 1, "seen_base_epoch"),
            "robots_base_epoch": epoch if compact else _base_epoch(
                root, epoch - 1, "robots_base_epoch"),
        })
        return n_selected
    finally:
        for df_ in caches:
            df_.unpersist()


def run_crawl(spark: SparkSession, root: str, seeds, web: WebConfig,
              cfg: CrawlConfig, max_epochs: int,
              scraper_plan: dict | None = None,
              emit_images: bool = False,
              fetch_adapter=None) -> None:
    """Run (or resume) a crawl up to max_epochs.  Resume is automatic: the
    loop starts after the last complete snapshot, so a killed run continues
    exactly where it stopped (tested identical to an uninterrupted run).

    ``seeds``: list[str] or a single-string-column DataFrame (the scale
    path — see seed_crawl).  Bit-for-bit identical results either way
    (tested): seeding canonicalizes + dedups, so source shape can't leak
    into snapshot content.

    Optional per-epoch payload tables, derived by the epoch's fetch stage
    from the bytes it fetched through ``fetch_adapter`` — each page is
    fetched once and parsed at most once — and committed by the epoch's
    manifest together with its other tables:

    * ``scraper_plan``: apply a trained plan to every status-200 page
      fetched this epoch → ``extractions`` table (url_canon, value_json);
    * ``emit_images``: emit the input_hint images table
      (image_id, bytes, w, h, fmt, caption, phash) per epoch.

    A resume must pass the same ``scraper_plan``/``emit_images`` as the
    original run: epochs committed before the resume are not revisited.
    """
    last = last_complete_epoch(root)
    if last is None:
        seed_crawl(spark, root, seeds, web, cfg, fetch_adapter)
        last = -1
    for epoch in range(last + 1, max_epochs):
        n = run_epoch(spark, root, epoch, web, cfg, fetch_adapter,
                      scraper_plan=scraper_plan, emit_images=emit_images)
        if n == 0:
            break


EXTRACTIONS_SCHEMA = "url_canon string, value_json string"


def _read_epoch_tables(spark: SparkSession, root: str, name: str,
                       schema: object) -> DataFrame:
    last = last_complete_epoch(root)
    return _read_existing(spark, [
        os.path.join(_snap_dir(root, e), name)
        for e in range(0, (last if last is not None else -1) + 1)
    ], schema)


def read_images(spark: SparkSession, root: str) -> DataFrame:
    from mlscraper_spark.images.ops import IMAGES_SCHEMA

    return _read_epoch_tables(spark, root, "images", IMAGES_SCHEMA)


def read_extractions(spark: SparkSession, root: str) -> DataFrame:
    return _read_epoch_tables(spark, root, "extractions", EXTRACTIONS_SCHEMA)


def read_fetch_log(spark: SparkSession, root: str) -> DataFrame:
    return _read_epoch_tables(spark, root, "fetch_log", FETCHLOG_SCHEMA)


def content_dup_groups(spark: SparkSession, root: str) -> DataFrame:
    """Crawl-time content dedup: groups of distinct canonical URLs that
    served byte-identical pages (same ``page_fp``) — e.g. query-string
    mirrors of the same document.  Returns one row per duplicated
    fingerprint: ``(page_fp, n_urls, canonical_url)`` where
    ``canonical_url`` is the lexicographically-least member (the dedup
    survivor a downstream extraction pipeline should keep).

    Scale shape: a single hash aggregation over the fetch log keyed by
    the 64-bit fingerprint — map-side partial aggs shrink each partition
    to its distinct fps before the shuffle, and the output is bounded by
    the number of *duplicated* documents, not the crawl size."""
    return (
        read_fetch_log(spark, root)
        .filter(F.col("page_fp").isNotNull())
        .groupBy("page_fp")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("url_canon").alias("canonical_url"),
        )
        .filter(F.col("n_urls") > 1)
    )


def crawl_metrics(spark: SparkSession, root: str, n_buckets: int) -> DataFrame:
    """Per-epoch, per-host_bucket crawl counters (A8): ``crawl_monitor``
    over the fetch log, keyed by ``(epoch, host_bucket)``."""
    return crawl_monitor(
        _with_host_bucket(read_fetch_log(spark, root), n_buckets), "host_bucket")
