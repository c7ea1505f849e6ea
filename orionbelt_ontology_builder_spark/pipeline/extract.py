"""Extraction stage: HTML -> text -> raw (surface) triples.

Vectorized Arrow/pandas UDFs only (input_hint: "no per-row Python" at the
Spark layer — the Python work is Arrow-batched and shares the pure
``textextract`` module with the oracle tests, which is what makes the
byte-identical-text-per-url invariant hold by construction).

The triple extractor has the UDTF shape (STRING -> ARRAY<STRUCT>), so the
plan is ``mapInPandas`` emitting one row per extracted triple with lineage
columns (source url + warc_ts) carried through — per north_rule.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textextract import extract_triples_from_text, html_to_text

TEXT_UDF_RETURNS = T.StringType()

RAW_TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj_surface", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_surface", T.StringType(), False),
        T.StructField("source_url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
    ]
)


@F.pandas_udf(TEXT_UDF_RETURNS)
def html_to_text_udf(html: pd.Series) -> pd.Series:
    return html.map(html_to_text)


def with_extracted_text(pages: DataFrame) -> DataFrame:
    """pages + ``extracted_text`` column (Arrow-batched)."""
    from ..session import ship_package

    ship_package(pages.sparkSession)
    return pages.withColumn("extracted_text", html_to_text_udf(F.col("html")))


def extract_raw_triples(pages: DataFrame) -> DataFrame:
    """One row per pattern-matched sentence across all pages, extracted
    from the raw ``html`` bytes."""
    from ..session import ship_package

    ship_package(pages.sparkSession)
    src = pages.select("url", "warc_ts", "html")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "subj_surface": [], "pred": [], "obj_surface": [],
                "source_url": [], "warc_ts": [],
            }
            texts = pdf["html"].map(html_to_text)
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"], texts):
                for s, p, o in extract_triples_from_text(text or ""):
                    rows["subj_surface"].append(s)
                    rows["pred"].append(p)
                    rows["obj_surface"].append(o)
                    rows["source_url"].append(url)
                    rows["warc_ts"].append(ts)
            # an empty frame's columns are float64, which Arrow cannot
            # cast to the timestamp column: skip batches with no triple
            if rows["source_url"]:
                yield pd.DataFrame(rows)

    return src.mapInPandas(gen, RAW_TRIPLES_SCHEMA)
