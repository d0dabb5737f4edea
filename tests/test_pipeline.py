"""End-to-end WINS pipeline test on WINS-shaped fixtures (FIXTURES.md §B) —
mirrors ``src/wins_transform_staging.py:151-286`` behavior exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flnr_wins_spark.plans.wins_pipeline import qa_reserves, run_staging, transform_reserves


@pytest.fixture()
def wins_tables(spark):
    rrr = spark.createDataFrame(
        [
            # (OBJECTID, TRRR_TAG, FEATURE_CODE, DESCRIPTION, geometry)
            (1, "RV001", None, None, bytearray(b"\x01")),   # RV prefix, in POD
            (2, "RS002", None, None, None),                  # RS prefix, in POD
            (3, "XX003", None, None, None),                  # other prefix, in POD
            (4, "RV004", None, None, None),                  # dup pair - rejected
            (5, "RV004", None, None, None),                  # dup pair - rejected
            (6, "RVGONE", None, None, None),                 # not in POD - rejected
            (7, "RV007", None, None, None),                  # dup triple - rejected
            (8, "RV007", None, None, None),
            (9, "RV007", None, None, None),
        ],
        "OBJECTID long, TRRR_TAG string, FEATURE_CODE string, DESCRIPTION string, geometry binary",
    )
    pod = spark.createDataFrame(
        [
            ("RV001", "desc-1", "gaz-1"),
            ("RS002", None, "gaz-2"),      # FIXTURES.md edge 5: NULL descr
            ("XX003", "desc-3", "gaz-3"),
            ("RV004", "desc-4", "gaz-4"),  # dup tags match POD but still rejected
        ],
        "PNTS_CODE string, PNTS_DESCR string, SRCE_GAZETTED string",
    )
    nth = spark.createDataFrame(
        [
            (1, "RV001", None, None, None),  # tag matches POD -> STREAM_NAME gaz-1
            (2, "", None, None, None),       # blank tag -> NULL (edge 2)
            (3, None, None, None, None),     # already NULL stays NULL
        ],
        "OBJECTID long, TNTH_TAG string, FEATURE_CODE string, STREAM_NAME string, geometry binary",
    )
    wrk = spark.createDataFrame(
        [(1, "", "", None), (2, "w2", "fc", None)],
        "OBJECTID long, TWRK_TAG string, FEATURE_CODE string, geometry binary",
    )
    fal = spark.createDataFrame(
        [(1, None, None)], "OBJECTID long, FEATURE_CODE string, geometry binary"
    )
    return {
        "reserves_and_restrictions": rrr,
        "non_trim_hydrography": nth,
        "water_licensed_works_points": wrk,
        "water_licensed_works_lines": wrk,
        "flooded_area_lines": fal,
    }, pod


def test_reserves_transform_codes_and_enrichment(spark, wins_tables):
    tables, pod = wins_tables
    out = transform_reserves(tables["reserves_and_restrictions"], pod)
    got = {r.OBJECTID: (r.FEATURE_CODE, r.DESCRIPTION) for r in out.collect()}
    assert got[1] == ("EA83030000", "desc-1")   # RV -> EA83030000 (wts.py:168-169)
    assert got[2] == ("EA83040000", None)       # RS -> EA83040000; NULL descr copied
    assert got[3] == (None, "desc-3")           # no prefix match -> code untouched
    assert got[6] == ("EA83030000", None)       # unmatched lookup -> NULL (KEEP_ALL)


def test_reserves_qa_reject_semantics(spark, wins_tables):
    tables, pod = wins_tables
    split = qa_reserves(transform_reserves(tables["reserves_and_restrictions"], pod), pod)
    kept_ids = sorted(r.OBJECTID for r in split.kept.collect())
    rej = {r.OBJECTID: r.REJECT_FLAG for r in split.rejected.collect()}
    # all 5 dup rows rejected (no survivor), not-found row rejected
    assert kept_ids == [1, 2, 3]
    assert rej == {
        4: "Duplicate TRRR_TAG",
        5: "Duplicate TRRR_TAG",
        7: "Duplicate TRRR_TAG",
        8: "Duplicate TRRR_TAG",
        9: "Duplicate TRRR_TAG",
        6: "TRRR_TAG not found in Water POD Table",
    }
    # kept schema has no REJECT_FLAG; rejected schema appends it
    assert "REJECT_FLAG" not in split.kept.columns
    assert split.rejected.columns == split.kept.columns + ["REJECT_FLAG"]


def test_reserves_qa_keeps_own_pnts_code_column(spark, wins_tables):
    """A reserves column that happens to share the POD key's name is data:
    the QA join must neither drop it nor confuse it with the lookup key."""
    tables, pod = wins_tables
    rrr = tables["reserves_and_restrictions"].withColumn(
        "PNTS_CODE", F.concat(F.lit("own-"), F.col("OBJECTID").cast("string"))
    )
    split = qa_reserves(transform_reserves(rrr, pod), pod)
    assert "PNTS_CODE" in split.kept.columns
    assert split.rejected.columns == split.kept.columns + ["REJECT_FLAG"]
    kept = {r.OBJECTID: r.PNTS_CODE for r in split.kept.collect()}
    rej = {r.OBJECTID: r.PNTS_CODE for r in split.rejected.collect()}
    assert kept == {i: f"own-{i}" for i in (1, 2, 3)}
    assert rej == {i: f"own-{i}" for i in (4, 5, 6, 7, 8, 9)}


def test_full_staging_run(spark, wins_tables):
    tables, pod = wins_tables
    result = run_staging(tables, pod)
    assert set(result.tables) == set(tables)
    nth = {r.OBJECTID: (r.TNTH_TAG, r.FEATURE_CODE, r.STREAM_NAME) for r in
           result.tables["non_trim_hydrography"].collect()}
    assert nth[1] == ("RV001", "GA24850000", "gaz-1")
    assert nth[2] == (None, "GA24850000", None)   # blank -> NULL then no match
    assert nth[3] == (None, "GA24850000", None)
    wrk = {r.OBJECTID: (r.TWRK_TAG, r.FEATURE_CODE) for r in
           result.tables["water_licensed_works_points"].collect()}
    assert wrk[1] == (None, None)                  # blanks -> NULL (wts.py:216-232)
    assert wrk[2] == ("w2", "fc")
    fal = result.tables["flooded_area_lines"].collect()
    assert fal[0].FEATURE_CODE == "GB11350000"     # wts.py:208-209


def test_geometry_bytes_pass_through_untouched(spark, wins_tables):
    """The reference copies geometry opaquely (wts.py:132,155) — every operator
    in the chain (conditional_update, enrich, both reject splits, the union)
    must carry arbitrary binary byte-identically on kept AND rejected rows."""
    import hashlib

    tables, pod = wins_tables
    rrr = tables["reserves_and_restrictions"].withColumn(
        "geometry",
        # arbitrary non-UTF8 bytes, unique per row
        F.unhex(F.md5(F.concat(F.lit("wkb"), F.col("OBJECTID").cast("string")))),
    )
    want = {
        r.OBJECTID: bytes(r.geometry) for r in rrr.collect()
    }
    assert all(len(v) == 16 for v in want.values())
    split = qa_reserves(transform_reserves(rrr, pod), pod)
    got = {}
    for r in split.kept.collect():
        got[r.OBJECTID] = bytes(r.geometry)
    for r in split.rejected.collect():
        got[r.OBJECTID] = bytes(r.geometry)
    assert got == want  # every row accounted for, every byte identical
    # sanity: these really are the md5 bytes, not re-encoded text
    assert got[1] == hashlib.md5(b"wkb1").digest()


def test_publish_roundtrip(spark, wins_tables, tmp_path):
    from flnr_wins_spark.sources import publish

    tables, pod = wins_tables
    result = run_staging(tables, pod)
    dest = str(tmp_path / "staging" / "reserves")
    publish(result.tables["reserves_and_restrictions"], dest)
    back = spark.read.parquet(dest)
    assert back.count() == 3
    publish(result.tables["reserves_and_restrictions"], dest)  # idempotent overwrite
    assert spark.read.parquet(dest).count() == 3
