"""Item pipeline: output filters + dedup (SURVEY §2.3 F1-F7, §2.4 D2;
/root/reference/deepbnb/pipelines.py). Pipeline order matters:
DuplicatesPipeline (priority 299) runs BEFORE BnbPipeline (300)
(settings.py.dist:88-92) — so dedup first, then filters.

Quirk parity (cfg.strict_parity=True, each guarded by a dedicated test):

* F4 BUG (pipelines.py:76): the weekly-discount check compares against
  ``_minimum_MONTHLY_discount`` — replicated faithfully.
* F6/F7 bytes-repr quirk (pipelines.py:88,98): the regex is matched
  against ``str(field.encode('ASCII','replace'))`` — i.e. the string
  ``b'...'`` with non-ASCII replaced by '?'. Reproduced in an
  Arrow-vectorized pandas UDF running the exact same Python ``re``
  semantics (IGNORECASE, ``search``), not a JVM-regex approximation.
* F3/F4 are dead in the reference (the spider never sets
  monthly_discount/weekly_discount, SURVEY F3/F4) — applied only when
  the columns exist.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from frontier_engine.config import EngineConfig


def ascii_repr(s: str) -> str:
    """pipelines.py:88 — str(field.encode('ASCII','replace'))."""
    if s is None:
        return None
    return str(s.encode("ASCII", "replace"))


def _regex_search_udf(pattern: str):
    """Boolean pandas UDF: Python re.search(pattern, ascii_repr(value),
    IGNORECASE) — exact reference semantics (pipelines.py:50-56,83-104)."""
    rx = re.compile(str(pattern), re.IGNORECASE)

    @pandas_udf(BooleanType())
    def matches(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: bool(rx.search(ascii_repr(v))) if v is not None else None,
        )

    return matches


# fields the regexes inspect (pipelines.py:42)
FIELDS_TO_CHECK = ("description", "name")


def apply_pipeline(listings: DataFrame, cfg: EngineConfig) -> DataFrame:
    """DuplicatesPipeline then BnbPipeline as DataFrame filters."""
    df = listings

    # D2 (pipelines.py:187-201): first-seen wins; deterministic tie-break
    # (the reference keeps whichever item arrived first — order-dependent;
    # the engine keeps the row with the smallest url for determinism)
    df = (
        df.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("id").orderBy("url"))
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    # F1 skip list (pipelines.py:65-66)
    if cfg.skip_list:
        df = df.where(~F.col("id").cast("string").isin(list(cfg.skip_list)))

    # F2 property-type blacklist (pipelines.py:68-69)
    if cfg.property_type_blacklist:
        df = df.where(
            ~F.coalesce(
                F.col("room_and_property_type").isin(list(cfg.property_type_blacklist)),
                F.lit(False),
            )
        )

    # F3/F4 discount minimums — dead unless the columns exist
    if cfg.minimum_monthly_discount and "monthly_discount" in df.columns:
        df = df.where(F.col("monthly_discount") >= F.lit(cfg.minimum_monthly_discount))
    if cfg.minimum_weekly_discount and "weekly_discount" in df.columns:
        # F4 reference bug: compares weekly against the MONTHLY threshold
        threshold = (
            cfg.minimum_monthly_discount if cfg.strict_parity else cfg.minimum_weekly_discount
        )
        if threshold:
            df = df.where(F.col("weekly_discount") >= F.lit(threshold))

    # F5 minimum photos (pipelines.py:79-80)
    if cfg.minimum_photos:
        df = df.where(F.col("photo_count") >= F.lit(cfg.minimum_photos))

    # F6 CANNOT_HAVE (pipelines.py:83-90): drop if match in ANY field
    if cfg.cannot_have:
        m = _regex_search_udf(cfg.cannot_have)
        cond = F.lit(False)
        for f in FIELDS_TO_CHECK:
            cond = cond | F.coalesce(m(F.col(f)), F.lit(False))
        df = df.where(~cond)

    # F7 MUST_HAVE (pipelines.py:92-104): keep only if match in ≥1 field
    if cfg.must_have:
        m = _regex_search_udf(cfg.must_have)
        cond = F.lit(False)
        for f in FIELDS_TO_CHECK:
            cond = cond | F.coalesce(m(F.col(f)), F.lit(False))
        df = df.where(cond)

    return df
