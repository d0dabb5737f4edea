"""The full WINS staging pipeline, recomposed from the operator library.

Mirrors ``src/wins_transform_staging.py:94-292`` (``wins_staging()``) step by
step, replacing in-place mutation with pure DataFrame flow:

  download+append (:118-155)  -> sources.load + append_no_test
  field calcs     (:163-234)  -> conditional_update / blank_to_null / enrich
  QA reject       (:236-273)  -> qa_reserves: one fused pass, a window count
                                 (duplicate tags) plus a join (POD membership)
  publish         (:280-286)  -> sources.publish per table

The whole chain is lazy: Catalyst sees download->calc->reject->publish as one
plan per output table; the only materialization barriers are the final writes.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flnr_wins_spark.operators.enrich import enrich
from flnr_wins_spark.operators.reject import RejectSplit
from flnr_wins_spark.operators.update import blank_to_null, conditional_update


class StagingResult(NamedTuple):
    tables: dict[str, DataFrame]  # kept/published tables by name
    rejects: dict[str, DataFrame]  # reject tables by name


def transform_reserves(
    rrr: DataFrame, pod: DataFrame, broadcast_lookup: bool = True
) -> DataFrame:
    """RESERVES_AND_RESTRICTIONS calc block, ``src/wins_transform_staging.py:163-179``:
    prefix-cased FEATURE_CODE then DESCRIPTION <- POD.PNTS_DESCR.

    ``broadcast_lookup=True`` matches the reference posture (the POD
    snapshot is a dimension); pass False when the lookup is fact-sized —
    a forced broadcast bypasses the auto threshold and a big lookup
    would OOM the driver (parity.py's e2e fixtures derive pod from
    orders and do exactly that)."""
    rrr = conditional_update(
        rrr,
        "FEATURE_CODE",
        [
            (F.col("TRRR_TAG").like("RV%"), "EA83030000"),
            (F.col("TRRR_TAG").like("RS%"), "EA83040000"),
        ],
    )
    return enrich(
        rrr, pod, on=("TRRR_TAG", "PNTS_CODE"),
        mapping={"DESCRIPTION": "PNTS_DESCR"}, broadcast_lookup=broadcast_lookup,
    )


def transform_hydrography(
    nth: DataFrame, pod: DataFrame, broadcast_lookup: bool = True
) -> DataFrame:
    """NON_TRIM_HYDROGRAPHY block, ``src/wins_transform_staging.py:185-206``:
    blank TNTH_TAG -> NULL, constant FEATURE_CODE, STREAM_NAME <- SRCE_GAZETTED."""
    nth = blank_to_null(nth, "TNTH_TAG")
    nth = nth.withColumn("FEATURE_CODE", F.lit("GA24850000"))
    return enrich(
        nth, pod, on=("TNTH_TAG", "PNTS_CODE"),
        mapping={"STREAM_NAME": "SRCE_GAZETTED"}, broadcast_lookup=broadcast_lookup,
    )


def transform_works(wrk: DataFrame) -> DataFrame:
    """WATER_LICENSED_WORKS_{POINTS,LINES} block,
    ``src/wins_transform_staging.py:211-234``: blank TWRK_TAG/FEATURE_CODE -> NULL."""
    return blank_to_null(wrk, "TWRK_TAG", "FEATURE_CODE")


def transform_flooded(fal: DataFrame) -> DataFrame:
    """FLOODED_AREA_LINES block, ``src/wins_transform_staging.py:208-209``:
    constant FEATURE_CODE."""
    return fal.withColumn("FEATURE_CODE", F.lit("GB11350000"))


def qa_reserves(
    rrr: DataFrame, pod: DataFrame, broadcast_lookup: bool = True
) -> RejectSplit:
    """QA stage, ``src/wins_transform_staging.py:236-273``: duplicate-tag
    rejection first, then referential-integrity rejection against POD; the
    not-found flag only lands where no flag exists yet (flag precedence,
    ``:268-269``).

    Fused single pass: both checks are decided by ONE window count (the
    duplicate tag) plus ONE left join against the distinct POD keys (the
    RI membership), so kept and rejected are each a single filter of the
    same tagged frame — the composed ``reject_duplicates >> reject_unmatched
    >> union`` form evaluated the upstream scan+enrich+window once per
    union branch (or needed a persist to avoid it). Provably identical:
      * kept  = not-dup AND matched  (= dup.kept semi-joined to POD keys);
      * rejected = dup rows flagged 'Duplicate ...' UNION not-dup-unmatched
        rows flagged 'not found ...' — the branches are disjoint, so the
        union IS the single filter (dup OR unmatched) with a conditional
        flag, duplicate check taking precedence exactly as the sequential
        form does (dup rows never reached the RI operator);
      * NULL tags: never duplicates (window guard), never match an
        equi-join — NULL-keyed rows land in rejected with the not-found
        flag, same as the anti-join.
    The window and the join are both keyed on TRRR_TAG, so the join reuses
    the window's partitioning (no second fact-side exchange)."""
    helper = ("__wins_freq", "__wins_matched", "__wins_pod_key")
    if any(c in rrr.columns for c in helper):
        raise ValueError("qa_reserves: input already carries a QA helper column")
    from pyspark.sql import Window

    dup_flag = "Duplicate TRRR_TAG"
    nf_flag = "TRRR_TAG not found in Water POD Table"
    keys = (
        pod.select(F.col("PNTS_CODE").alias("__wins_pod_key"))
        .dropDuplicates(["__wins_pod_key"])
        .withColumn("__wins_matched", F.lit(True))
    )
    if broadcast_lookup:
        keys = F.broadcast(keys)
    tagged = rrr.withColumn(
        "__wins_freq", F.count(F.lit(1)).over(Window.partitionBy("TRRR_TAG"))
    ).join(keys, F.col("TRRR_TAG") == F.col("__wins_pod_key"), "left")
    is_dup = (F.col("__wins_freq") > 1) & F.col("TRRR_TAG").isNotNull()
    matched = F.col("__wins_matched").isNotNull()
    kept = tagged.filter(~is_dup & matched).drop(*helper)
    flag_val = F.when(is_dup, F.lit(dup_flag)).otherwise(F.lit(nf_flag))
    if "REJECT_FLAG" in rrr.columns:
        flag_val = F.coalesce(F.col("REJECT_FLAG"), flag_val)
    rejected = (
        tagged.filter(is_dup | ~matched)
        .withColumn("REJECT_FLAG", flag_val)
        .drop(*helper)
    )
    return RejectSplit(kept=kept, rejected=rejected)


def run_staging(tables: dict[str, DataFrame], pod: DataFrame) -> StagingResult:
    """Full pipeline over the five feature tables + POD lookup
    (``src/app.yml:8-13,22``)."""
    out: dict[str, DataFrame] = {}
    rejects: dict[str, DataFrame] = {}

    if "reserves_and_restrictions" in tables:
        enriched = transform_reserves(tables["reserves_and_restrictions"], pod)
        split = qa_reserves(enriched, pod)
        out["reserves_and_restrictions"] = split.kept
        rejects["reserves_and_restrictions"] = split.rejected
    if "non_trim_hydrography" in tables:
        out["non_trim_hydrography"] = transform_hydrography(tables["non_trim_hydrography"], pod)
    for name in ("water_licensed_works_points", "water_licensed_works_lines"):
        if name in tables:
            out[name] = transform_works(tables[name])
    if "flooded_area_lines" in tables:
        out["flooded_area_lines"] = transform_flooded(tables["flooded_area_lines"])
    return StagingResult(tables=out, rejects=rejects)
