"""End-to-end pipeline compositions on payroll-shaped fixtures (FIXTURES.md).

Fixtures carry the messiness the reference defends against: stray
whitespace, "123.0" numeric codes, header variants, NULL/''/'nan'
missing values, duplicate business keys.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.pipelines import (
    CPA_EXPECTED_COLUMNS,
    cpa_pipeline,
    pua_pipeline,
)
from uofi_payroll_etl_main_demo_spark.plans import inspect_plan
from uofi_payroll_etl_main_demo_spark.validate import FreshnessError


@pytest.fixture()
def lookups(spark):
    ts_org = spark.createDataFrame(
        [("1-123456", "Org Alpha"), ("1-123456", "Org Alpha"),  # dup rows (ref 290)
         ("2-654321", "Org Beta")],
        "`TS-Org Code` string, `TS-Org Title` string",
    )
    ts_dept = spark.createDataFrame(
        [("1-123", "Dept One"), ("2-654", "Dept Two")],
        "`TS-Org Dept Code` string, `TS-Org Dept Title` string",
    )
    overtime = spark.createDataFrame(
        [("AB", "BW", "Eligible", "Academic Long"),
         ("CD", "MN", "Exempt", "Civil Long")],
        "`Job Eclass` string, `Pay ID` string, `Overtime FLSA` string, "
        "`Job Detail E-Class Long Desc` string",
    )
    te_m = spark.createDataFrame(
        [
            ("W", "Web Time Entry", "Web", "100-1"),
            ("W", "Web Time Entry", "Web", "101-1"),
            ("W", "Dept Time Entry", "Dept", "102-1"),  # minority value
            ("D", "Dept Time Entry", "Dept", "103-1"),
        ],
        "`TE M` string, `Time Entry Method` string, "
        "`Time Entry Type` string, `UIN Job` string",
    )
    return ts_org, ts_dept, overtime, te_m


@pytest.fixture()
def pua_raw(spark):
    cols = [
        "UIN", "Year", "Pay ID", "Pay #", "Seq #", "POSN", "SUFF",
        "TS COA", "TS ORG", "DEPT Code", "Department Name", "ECLS",
        "ECLS DESC", "TE M", "College Code", "College Name", "Earn Code",
        "DESCRIPTION", "ADj Reason Code", "Adj Reason", "Calc Date",
    ]
    rows = [
        # clean row
        ("100", "2024", "BW", "10", "0", "1234", "0", "1", "123456",
         "123", "Fallback Dept", "AB", "Academic", "W", "KY", "Engineering",
         "RGS", "Regular", "ADJ", "Adjustment", "2024-03-01"),
        # messy row: .0 codes, whitespace, missing ADJ -> INT/Internal
        (" 101 ", "2024", "BW", "10", "0", "5678.0", "0.0", "2", "654321",
         "654.0", "  Dept Two Name ", "CD", " Civil ", "D", "LA", "Liberal Arts",
         "OVT", "Overtime", None, "nan", "garbage-date"),
        # duplicate business key of row 1 (dedup target)
        ("100", "2024", "BW", "10", "0", "1234", "0", "1", "123456",
         "123", "Fallback Dept", "AB", "Academic", "W", "KY", "Engineering",
         "RGS", "Regular", "ADJ", "Adjustment", "2024-03-01"),
    ]
    return spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in cols))


# The reference's final PUA headers, verbatim: the 26-column PreTAM
# col_map (etl_payroll_pipeline_demo.py:362-389) after its post-build
# renames "TS Org"->"TS ORG", "Adjustment Reason"->"Adjustment Reason
# Description" (ref 417-425).
PUA_EXPECTED_HEADERS = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number",
    "College Code", "College Name", "College", "TS COA", "TS ORG",
    "TS-Org Code", "TS-Org Title", "Dept Code", "TS-Org Dept Code",
    "TS-Org Dept Title", "E-Class Code", "E-Class", "TE M",
    "Time Entry", "Overtime", "Earn Code", "Earn Code Description",
    "Adjustment Reason Code", "Adjustment Reason Description",
    "Calc Date",
]


def test_pua_pipeline(spark, pua_raw, lookups):
    ts_org, ts_dept, overtime, te_m = lookups
    out = pua_pipeline(pua_raw, ts_org, ts_dept, overtime, te_m)

    # contract: the reference's exact 26 headers, in order
    assert out.columns == PUA_EXPECTED_HEADERS

    rows = {r["UIN"]: r for r in out.collect()}
    assert len(rows) == 2  # duplicate business key collapsed
    r100, r101 = rows["100"], rows["101"]

    # derivations
    assert r100["Job Number"] == "1234-0"
    assert r100["TS-Org Code"] == "1-123456"
    assert r101["Job Number"] == "5678-0"  # .0 stripped
    assert r101["Dept Code"] == "654"  # .0 stripped
    assert r100["E-Class Code"] == "AB"

    # enrichment (incl. the kept right-side dept key, pandas-style)
    assert r100["TS-Org Title"] == "Org Alpha"
    assert r100["TS-Org Dept Code"] == "1-123"
    assert r100["TS-Org Dept Title"] == "Dept One"
    assert r100["Overtime"] == "Eligible"
    assert r100["Time Entry"] == "Web Time Entry"  # mode of W
    assert r101["Time Entry"] == "Dept Time Entry"

    # default fill (variant headers normalized, tri-state missing)
    assert r100["Adjustment Reason Code"] == "ADJ"
    assert r101["Adjustment Reason Code"] == "INT"
    assert r101["Adjustment Reason Description"] == "Internal"

    # timestamp coercion: bad date -> null, good parses
    assert r100["Calc Date"] is not None and r101["Calc Date"] is None


def test_pua_contract_null_fills_absent_source(spark, pua_raw, lookups):
    # reference 393-398: a col_map source absent from the input becomes
    # an all-null output column under the contract header
    ts_org, ts_dept, overtime, te_m = lookups
    out = pua_pipeline(
        pua_raw.drop("Earn Code"), ts_org, ts_dept, overtime, te_m
    )
    assert out.columns == PUA_EXPECTED_HEADERS
    assert out.filter(F.col("Earn Code").isNotNull()).count() == 0


def _cpa_rows(create_dt: str):
    base = {c: None for c in CPA_EXPECTED_COLUMNS}
    base.update(
        UIN="100", PAY_YEAR="2024", PAY_ID="BW", PAY_NBR="10.0", PAY_SEQ="0",
        TRAN_ID="T1", TRAN_CREATE_DT=create_dt, TRAN_CLOSED_DT="2024-03-05",
        JOB="1", JOB_TITLE="Research Asst", JOB_TS_COAS="1",
        JOB_TS_ORGN="123456", JOB_ECLS="AB", COLLEGE="KY-Engineering",
        LAST_NAME="Doe", FIRST_NAME="Jo", EMAIL_ADDR="jo@x.edu",
        HRLY_RATE="15.50", ROLE="Approver", ACTION="3 - Apply",
    )
    return base


@pytest.fixture()
def cpa_inputs(spark, lookups):
    row1 = _cpa_rows("2024-03-01")
    row2 = dict(row1, TRAN_ID="T2", UIN="101", JOB="2", JOB_ECLS="CD",
                PAY_ID="MN", ACTION="1 - Return", COLLEGE="NoHyphen")
    row3 = dict(row1)  # exact duplicate of row1 (dedup cascade target)
    row4 = dict(row1, TRAN_ID="T3", TRAN_CREATE_DT="2022-01-01")  # out of window
    schema = ", ".join(f"`{c}` string" for c in CPA_EXPECTED_COLUMNS)
    mk = lambda rows: spark.createDataFrame(
        [tuple(r[c] for c in CPA_EXPECTED_COLUMNS) for r in rows], schema
    )
    return mk([row1, row3]), mk([row2, row4])


# The reference's final CPA headers, verbatim: the 20-column PreTAM
# projection (etl_payroll_pipeline_demo.py:728-731).
CPA_EXPECTED_HEADERS = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number",
    "College Code", "College Name", "College", "TS COA", "TS Org",
    "TS-Org Code", "TS-Org Title", "TS-Org Dept Code",
    "TS-Org Dept Title", "E-Class Code", "E-Class", "TE M",
    "Time Entry", "Overtime",
]


def test_cpa_pipeline(spark, cpa_inputs, lookups):
    bw, mn = cpa_inputs
    ts_org, ts_dept, overtime, te_m = lookups
    with pytest.raises(FreshnessError):
        cpa_pipeline(bw, mn, ts_org, ts_dept, overtime, te_m,
                     fiscal_year_end=2024)
    out = cpa_pipeline(bw, mn, ts_org, ts_dept, overtime, te_m,
                       fiscal_year_end=2024, strict=False)

    # contract: the reference's exact 20 PreTAM headers, in order
    assert out.columns == CPA_EXPECTED_HEADERS

    rows = out.collect()
    # row2 filtered by ACTION, row3 deduped, row4 out of fiscal window
    assert len(rows) == 1
    r = rows[0]
    assert r["UIN"] == "100" and r["Job Number"] == "1"
    assert r["Pay #"] == "10"  # "10.0" normalized
    assert r["TS-Org Code"] == "1-123456"
    assert r["TS-Org Title"] == "Org Alpha"
    assert r["TS-Org Dept Code"] == "1-123"  # kept right key
    assert r["TS-Org Dept Title"] == "Dept One"
    assert r["Overtime"] == "Eligible"  # two-key join (ECLS, PAY_ID)
    assert r["E-Class"] == "Academic Long"  # long-desc -> E-Class
    assert r["E-Class Code"] == "AB"
    assert r["TE M"] == "W"  # TE M arrives via the UIN Job merge
    assert r["Time Entry"] == "Web Time Entry"  # mode of W (ref 647-650)
    assert r["College Code"] == "KY" and r["College Name"] == "Engineering"


def test_cpa_dedup_cascade_one_survivor_per_key(spark, lookups):
    # keep-first by UIN Job, then by TRAN_ID, under the default order
    # (TRAN_ID, UIN Job); TRAN_ID is not an output column, so each one
    # carries its own "Seq #"
    ts_org, ts_dept, overtime, te_m = lookups
    dup = _cpa_rows("2024-03-01")  # in BW AND in MN, identical
    late = dict(dup, UIN="200", JOB="2", TRAN_ID="T5", PAY_SEQ="5",
                HRLY_RATE="20.00")
    early = dict(late, TRAN_ID="T4", PAY_SEQ="4", HRLY_RATE="19.00")
    shared_a = dict(dup, UIN="300", JOB="3", TRAN_ID="T9", PAY_SEQ="9")
    shared_b = dict(shared_a, UIN="301")  # same TRAN_ID, other UIN Job
    schema = ", ".join(f"`{c}` string" for c in CPA_EXPECTED_COLUMNS)
    mk = lambda rows: spark.createDataFrame(
        [tuple(r[c] for c in CPA_EXPECTED_COLUMNS) for r in rows], schema
    )
    bw, mn = mk([dup, late, shared_a]), mk([dup, early, shared_b])
    out = cpa_pipeline(bw, mn, ts_org, ts_dept, overtime, te_m,
                       fiscal_year_end=2024, strict=False)
    got = sorted((r["UIN"], r["Job Number"], r["Seq #"]) for r in out.collect())
    assert got == [("100", "1", "0"), ("200", "2", "4"), ("300", "3", "9")]


def test_payroll_plans_dedup_broadcast_dims_without_shuffles(
    spark, pua_raw, cpa_inputs, lookups
):
    # Each broadcast dim dedups in the one task that feeds its
    # broadcast; what shuffles is the TE mode (1), the keep-first
    # dedups (PUA 1, CPA 2), nothing else. Joins are unchanged: PUA 4
    # and CPA 5 broadcast joins, each named twice in the formatted plan.
    ts_org, ts_dept, overtime, te_m = lookups
    pua = inspect_plan(pua_pipeline(pua_raw, ts_org, ts_dept, overtime, te_m))
    cpa = inspect_plan(
        cpa_pipeline(*cpa_inputs, ts_org, ts_dept, overtime, te_m,
                     fiscal_year_end=2024, strict=False)
    )
    assert (pua.exchanges, pua.broadcast_joins) == (2, 8)
    assert (cpa.exchanges, cpa.broadcast_joins) == (3, 10)
    assert pua.sort_merge_joins == cpa.sort_merge_joins == 0


def test_cpa_schema_contract_enforced(spark, cpa_inputs, lookups):
    bw, mn = cpa_inputs
    ts_org, ts_dept, overtime, te_m = lookups
    from uofi_payroll_etl_main_demo_spark.validate import ContractViolation

    # keep only in-window rows so the (earlier) freshness check passes
    # and the schema-contract failure is what surfaces
    from pyspark.sql import functions as F

    fresh_mn = mn.filter(F.col("TRAN_CREATE_DT") >= "2023-07-01")
    with pytest.raises(ContractViolation):
        cpa_pipeline(
            bw.drop("ROLE"), fresh_mn.drop("ROLE"), ts_org, ts_dept,
            overtime, te_m, fiscal_year_end=2024,
        )


def test_cpa_schema_contract_rejects_reordered_columns(spark, cpa_inputs, lookups):
    # reference 522-554 validates column name AND position: a reordered
    # input must fail with misplaced-column diagnostics
    bw, mn = cpa_inputs
    ts_org, ts_dept, overtime, te_m = lookups
    from uofi_payroll_etl_main_demo_spark.validate import ContractViolation
    from pyspark.sql import functions as F

    swapped = list(CPA_EXPECTED_COLUMNS)
    swapped[0], swapped[1] = swapped[1], swapped[0]  # UIN <-> PAY_YEAR
    bw_swapped = bw.select(*swapped)
    fresh_mn = mn.filter(F.col("TRAN_CREATE_DT") >= "2023-07-01").select(*swapped)
    with pytest.raises(ContractViolation, match="misplaced"):
        cpa_pipeline(
            bw_swapped, fresh_mn, ts_org, ts_dept, overtime, te_m,
            fiscal_year_end=2024,
        )
