"""Image-payload operators: crawl pages → the input_hint images table.

The hot path of the graft (BASELINE.json north_star): fetched pages flow
through Arrow UDFs that apply extraction and emit
``(image_id, bytes, w, h, fmt, caption, phash)`` rows.  Embarrassingly
parallel — one ``mapInPandas`` stage, no shuffle; the w/h columns come from
the img attributes (dedicated columns, never value-matched — the dimensions
filter P4 exists precisely for this, matches.py:227-234).
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def default_fmt_policy(image_id: str, w: int, h: int) -> str:
    """Deterministic format choice: hash parity of the image id."""
    from mlscraper_spark.crawl.urlnorm import xxhash64

    return "ppm" if xxhash64(image_id.encode()) % 2 == 0 else "dctq"


def image_row(meta: dict, fmt_policy=default_fmt_policy) -> tuple:
    """One ``IMAGES_SCHEMA`` row from one <img>'s (src, caption, w, h)
    metadata: image_id = src path; pixels are materialized via the
    deterministic synthetic store (make_image — the stand-in for the
    binary fetch), encoded ppm (lossless) or dctq (lossy) as
    ``fmt_policy(image_id, w, h)`` picks, phash computed from the
    *decoded* pixels."""
    from mlscraper_spark.images.codec import decode, encode, make_image, phash

    image_id, w, h = meta["src"], meta["w"], meta["h"]
    fmt = fmt_policy(image_id, w, h)
    blob = encode(make_image(image_id, w, h), fmt)
    return image_id, blob, w, h, fmt, meta["caption"], phash(decode(blob, fmt))


def _rows_frame(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])


def encode_images(meta_df: DataFrame) -> DataFrame:
    """(src, caption, w, h) rows → images rows under
    ``default_fmt_policy``: the codec stage alone, no fetch and no parse
    (the crawl's fetch stage already extracted the metadata)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _rows_frame([image_row(m) for m in pdf.to_dict("records")])

    return meta_df.select("src", "caption", "w", "h").mapInPandas(
        _run, IMAGES_SCHEMA
    )


def extract_images_table(pages_df: DataFrame, page_id_col: str = "url_canon",
                         html_col: str = "html", fmt_policy=None) -> DataFrame:
    """Pages (id, html) → images rows per input_hint, one ``image_row``
    per <img>.  ``fmt_policy(image_id, w, h) -> fmt`` picks the codec;
    the default is hash-parity of the id.  Oracle-checked queries pass a
    SQL-expressible policy so the encoded byte counts are verifiable
    end-to-end against DuckDB (the codec itself is policy-independent).
    """
    policy = fmt_policy or default_fmt_policy

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.operators.extract import page_payload

        for pdf in batches:
            yield _rows_frame([
                image_row(m, policy)
                for html in pdf[html_col]
                for m in page_payload(bytes(html), None, True)[1]
            ])

    return pages_df.select(page_id_col, html_col).mapInPandas(_run, IMAGES_SCHEMA)


def fetch_and_extract_images(urls_df: DataFrame, web, url_col: str = "url_canon") -> DataFrame:
    """Fetch each URL from the synthetic web → images rows of its
    status-200 pages, fetch + parse + codec in one Arrow UDF.  A crawl
    does not call this: its fetch stage extracts the metadata from the
    bytes it already fetched and ``encode_images`` runs the codec."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.crawl.synthweb import fetch
        from mlscraper_spark.operators.extract import page_payload

        for pdf in batches:
            rows = []
            for url in pdf[url_col]:
                status, html = fetch(url, web)
                if status == 200:
                    rows += [image_row(m)
                             for m in page_payload(html, None, True)[1]]
            yield _rows_frame(rows)

    return urls_df.select(url_col).mapInPandas(_run, IMAGES_SCHEMA)


def resize_images(images_df: DataFrame, factor: int = 2) -> DataFrame:
    """Box-downsample every image by an integer ``factor`` and re-encode
    lossless ppm: the thumbnail stage of a training-data pipeline, emitting
    the same input_hint row shape with the new dims and the thumbnail's
    phash.  Arrow-batched decode → integer box-mean (sum // factor², exact
    and float-free, so bit-deterministic under retries) → encode; pure
    mapInPandas, no shuffle.  Caption is carried through unchanged.
    """
    if factor < 1:
        raise ValueError("factor must be >= 1")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mlscraper_spark.images.codec import decode, encode_ppm, phash

        for pdf in batches:
            rows = []
            for image_id, blob, fmt, caption in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["caption"]
            ):
                try:
                    img = decode(bytes(blob), fmt)
                except NotImplementedError:
                    rows.append((image_id, None, 0, 0, "ppm", caption, None))
                    continue
                h, w = img.shape[0], img.shape[1]
                th, tw = max(1, h // factor), max(1, w // factor)
                trimmed = img[: th * factor, : tw * factor].astype(np.int64)
                thumb = (
                    trimmed.reshape(th, factor, tw, factor, 3).sum(axis=(1, 3))
                    // (factor * factor)
                ).astype(np.uint8)
                tblob = encode_ppm(thumb)
                rows.append(
                    (image_id, tblob, tw, th, "ppm", caption, phash(thumb))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])

    return images_df.select(
        "image_id", "bytes", "fmt", "caption"
    ).mapInPandas(_run, IMAGES_SCHEMA)


def image_features(images_df: DataFrame) -> DataFrame:
    """Decode + feature-extract (multimodal column pattern): binary blobs →
    typed features, Arrow-batched.  The shape real pipelines use for
    embedding/classification stages."""
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("mean_lum", T.DoubleType(), True),
            T.StructField("phash_check", T.LongType(), True),
            T.StructField("decode_ok", T.BooleanType(), False),
        ]
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mlscraper_spark.images.codec import decode, phash

        for pdf in batches:
            rows = []
            for image_id, blob, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                try:
                    img = decode(bytes(blob), fmt)
                    lum = float(
                        np.mean(img.astype(np.float64) @ np.array([0.299, 0.587, 0.114]))
                    )
                    rows.append((image_id, round(lum, 4), phash(img), True))
                except NotImplementedError:
                    rows.append((image_id, None, None, False))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return images_df.select("image_id", "bytes", "fmt").mapInPandas(_run, schema)
