"""End-to-end golden test: synthetic bronze fixtures (FIXTURES.md A1-A5) ->
silver financial_institution -> gold tables, with quarantine observability."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from bankcreditunion_datapipeline_spark.plans.medallion import (
    US_STATES,
    build_silver,
    gold_directory,
    gold_fact,
    gold_quarterly_assets,
    gold_quarterly_deposits,
    run_gold,
)
from bankcreditunion_datapipeline_spark.schemas import (
    FINANCIAL_INSTITUTION,
    enforce_contract,
)


@pytest.fixture(scope="module")
def bronze(spark):
    institutions = spark.createDataFrame(
        [
            # ACTIVE, CERT, CITY, ID, NAME, REPDTE, STNAME, WEBADDR
            ("1", "101", "MCLEAN", "1", "First National Bank", "3/31/2020", "VIRGINIA", "WWW.FNB.COM"),
            ("1", "102", "new york", "2", "Empire Trust", "3/31/2020", "new york", None),
            ("0", "103", "Austin", "3", "Closed Bank", "3/31/2020", "TEXAS", "x.com"),  # inactive
            ("1", "104", "Boise", "4", "Bad Date Bank", "2020-03-31", "IDAHO", ""),  # malformed REPDTE ok (unused col)
            ("1", "10X", "Reno", "5", "Bad Cert Bank", "3/31/2020", "NEVADA", "x.com"),  # non-numeric CERT -> quarantine
        ],
        "ACTIVE string, CERT string, CITY string, ID string, NAME string, REPDTE string, STNAME string, WEBADDR string",
    )
    financials = spark.createDataFrame(
        [
            # ASSET, CERT, DEP, ID, REPDTE(yyyyMMdd)
            ("1000", "101", "800", "1", "20200331"),
            ("1100", "101", "850", "1", "20200630"),
            ("2000", "102", "1500", "2", "20200331"),
            ("3000", "104", "2500", "4", "20200331"),
            ("9999", "999", "9999", "9", "2020-03-31"),  # malformed date -> quarantine
        ],
        "ASSET string, CERT string, DEP string, ID string, REPDTE string",
    )
    foicu = spark.createDataFrame(
        [
            # CU_NUMBER, CU_NAME, CITY, STATE(abbrev), CYCLE_DATE, extra col
            (101, "Navy Credit Union", "vienna", "VA", "3/31/2020 0:00:00", "x"),
            (201, "Teachers CU", "SAN DIEGO", "CA", "3/31/2020 0:00:00", "y"),
            (202, "Unknown State CU", "Agana", "??", "3/31/2020 0:00:00", "z"),  # bad state -> quarantine
        ],
        "CU_NUMBER int, CU_NAME string, CITY string, STATE string, CYCLE_DATE string, EXTRA string",
    )
    fs220 = spark.createDataFrame(
        [
            (101, "3/31/2020 0:00:00", 500, 400, 99),
            (201, "3/31/2020 0:00:00", 700, 600, 99),
            (202, "3/31/2020 0:00:00", 100, 90, 99),
        ],
        "CU_NUMBER int, CYCLE_DATE string, ACCT_010 long, ACCT_018 long, ACCT_671 long",
    )
    fs220d = spark.createDataFrame(
        [
            (101, "3/31/2020 0:00:00", "WWW.NAVY.ORG"),
            (201, "3/31/2020 0:00:00", None),
        ],
        "CU_NUMBER int, CYCLE_DATE string, Acct_891 string",
    )
    return institutions, financials, foicu, fs220, fs220d


def test_silver_contract_and_content(spark, bronze):
    result = build_silver(*bronze)
    silver = enforce_contract(result.financial_institution, FINANCIAL_INSTITUTION)
    rows = {(r.charter_number, r.institution_type, str(r.quarter_date)): r for r in silver.collect()}

    # banks: 101 has two quarters; 102 one; 103 inactive (filtered); 104 present
    assert len([k for k in rows if k[1] == "bank"]) == 4
    b = rows[(101, "bank", "2020-03-31")]
    assert b.city == "Mclean" and b.name == "FIRST NATIONAL BANK"
    assert b.state == "Virginia" and b.website == "www.fnb.com"
    assert b.assets_total == 1000 and b.deposits_total == 800
    assert rows[(102, "bank", "2020-03-31")].website == "Not Provided"

    # credit unions: 101 collides with bank cert 101 -- type disambiguates
    cu = rows[(101, "credit union", "2020-03-31")]
    assert cu.name == "NAVY CREDIT UNION" and cu.state == "Virginia"
    assert cu.assets_total == 500 and cu.website == "www.navy.org"
    # missing fs220d row -> website defaulted
    assert rows[(201, "credit union", "2020-03-31")].website == "Not Provided"
    # unknown state abbrev quarantined, not silently dropped
    assert (202, "credit union", "2020-03-31") not in rows


def test_quarantine_observability(spark, bronze):
    result = build_silver(*bronze)
    q = result.quarantine.collect()
    reasons = {(r._source, r._reject_reason) for r in q}
    assert ("fdic_financials", "quarter_date") in reasons  # malformed yyyyMMdd
    assert ("ncua_foicu", "state") in reasons  # unknown abbreviation
    # a non-numeric charter number is quarantined, not an ANSI cast error
    bad_cert = [r for r in q if r._source == "fdic_institutions"]
    assert [(r.name, r._reject_reason) for r in bad_cert] == [("BAD CERT BANK", "charter_number")]


def test_gold_directory_unique(spark, bronze):
    silver = build_silver(*bronze).financial_institution
    directory = gold_directory(silver)
    assert directory.count() == directory.dropDuplicates(
        ["charter_number", "institution_type"]
    ).count()


def test_gold_fact_year_quarter(spark, bronze):
    silver = build_silver(*bronze).financial_institution
    fact = gold_fact(silver)
    r = fact.filter(
        (F.col("charter_number") == 101)
        & (F.col("institution_type") == "bank")
        & (F.col("quarter_date") == datetime.date(2020, 6, 30))
    ).first()
    assert (r.year, r.quarter) == (2020, 2)


def test_gold_quarterly_pivots(spark, bronze):
    silver = build_silver(*bronze).financial_institution
    assets = gold_quarterly_assets(silver)
    # data-named columns, newest quarter first (P8 ordering)
    assert assets.columns[:3] == ["charter_number", "institution_type", "name"]
    assert assets.columns[3:] == ["2020-06-30", "2020-03-31"]
    row = {
        (r.charter_number, r.institution_type): r for r in assets.collect()
    }[(101, "bank")]
    assert (row["2020-03-31"], row["2020-06-30"]) == (1000, 1100)

    deposits = gold_quarterly_deposits(silver, quarters=["2020-03-31", "2020-06-30"])
    drow = {(r.charter_number, r.institution_type): r for r in deposits.collect()}[(101, "credit union")]
    assert drow["2020-03-31"] == 400 and drow["2020-06-30"] is None


def _leaf_parquet_files(root) -> dict[str, int]:
    """Parquet file count of every leaf directory under `root`."""
    return {
        d: sum(f.endswith(".parquet") for f in files)
        for d, subdirs, files in os.walk(root)
        if not subdirs
    }


def _wide_silver(spark, banks_per_state: int = 1):
    """Banks in every state: more `state=` directories under one
    year/quarter parent than Spark's default parallel-listing threshold
    (32). Each state's banks arrive in descending name order."""
    rows = [
        (10 * i + k, "City", f"BANK {i:02d}-{k}", datetime.date(2020, 3, 31), state,
         "Not Provided", 100 + k, 50 + k, "bank")
        for i, state in enumerate(sorted(US_STATES.values()))
        for k in reversed(range(banks_per_state))
    ]
    return spark.createDataFrame(rows, FINANCIAL_INSTITUTION)


def test_gold_roundtrip_write_read(spark, bronze, tmp_path):
    silver = build_silver(*bronze).financial_institution
    run_gold(silver, str(tmp_path))
    directory = spark.read.parquet(str(tmp_path / "institutions_directory_by_type"))
    assert directory.count() == gold_directory(silver).count()
    # partition columns survive the round trip
    assert set(["institution_type", "state"]) <= set(directory.columns)

    wide = tmp_path / "wide"
    run_gold(_wide_silver(spark), str(wide))
    # each partition directory is written by exactly one task: one file
    for table in (tmp_path, wide):
        for name in ("institutions_directory_by_type", "assets_deposits_by_state"):
            leaves = _leaf_parquet_files(table / name)
            assert leaves and set(leaves.values()) == {1}, (name, leaves)

    # a pruned read lists the 54 state directories on the driver: schema
    # inference + the collect, no distributed listing job per parent
    sc = spark.sparkContext
    group = "medallion-pruned-gold-read"
    sc.setJobGroup(group, "pruned gold read")
    try:
        rows = (
            spark.read.parquet(str(wide / "assets_deposits_by_state"))
            .filter((F.col("year") == 2020) & (F.col("quarter") == 1) & (F.col("state") == "Texas"))
            .collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(rows) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_gold_directory_files_sorted_by_name(spark, tmp_path):
    import pyarrow.parquet as pq

    run_gold(_wide_silver(spark, banks_per_state=3), str(tmp_path))
    leaves = _leaf_parquet_files(tmp_path / "institutions_directory_by_type")
    assert len(leaves) == len(US_STATES)
    for d in leaves:
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                names = pq.read_table(os.path.join(d, f), columns=["name"]).column("name").to_pylist()
                assert len(names) == 3 and names == sorted(names), (d, names)
