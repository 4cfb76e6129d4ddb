"""CPA certification pipeline (reference §3.3, lines 482-799).

union-by-name → date parse/bounds → fiscal-year filter → schema
contract → derive/validate → enrich → filter → dedup cascade →
normalize → split → rename/project.

The freshness ``min`` (508-512) is the only forced evaluation before
the sink; the schema contract (522-554) reads only the schema, and the
warn-only format rule (564-581) is left to the constraints gate.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uofi_payroll_etl_main_demo_spark.functions.cleanse import (
    clean_column_names,
    coalesce_fill,
    concat_key,
    dedupe_column_names,
    ensure_string,
    normalize_cell,
    select_contract,
    split_code_name,
    to_timestamp_coerce,
)
from uofi_payroll_etl_main_demo_spark.operators.aggregates import mode_by_group
from uofi_payroll_etl_main_demo_spark.operators.dedup import dedup_keep_first
from uofi_payroll_etl_main_demo_spark.operators.joins import safe_left_join
from uofi_payroll_etl_main_demo_spark.operators.setops import union_by_name
from uofi_payroll_etl_main_demo_spark.validate.contracts import (
    check_freshness,
    check_schema_contract,
)

# The 34-column input contract (reference 522-529).
CPA_EXPECTED_COLUMNS = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID",
    "TRAN_COMPNT", "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT",
    "JOB", "JOB_TITLE", "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS",
    "COLLEGE", "OWNING_UIN", "LAST_NAME", "FIRST_NAME",
    "UI_ENTERPRISE_ID", "EMAIL_ADDR", "HRLY_RATE", "RT_LEAVE_DT",
    "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE", "ACTION",
    "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT",
    "ELAPSED_WORK_TIME", "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME",
]

# Final output contract: the reference's EXACT 20-column PreTAM
# projection (reference 711-738) — rename map folded in as
# (output_name, source_name) pairs; an absent source null-fills.
CPA_COL_MAP = [
    ("UIN", "UIN"),
    ("Pay ID", "PAY_ID"),
    ("Year", "PAY_YEAR"),
    ("Pay #", "PAY_NBR"),
    ("Seq #", "PAY_SEQ"),
    ("Job Number", "JOB"),
    ("College Code", "College Code"),
    ("College Name", "College Name"),
    ("College", "COLLEGE"),
    ("TS COA", "JOB_TS_COAS"),
    ("TS Org", "JOB_TS_ORGN"),
    ("TS-Org Code", "TS-Org Code"),
    ("TS-Org Title", "TS-Org Title"),  # ref: Title -> "TS-Org Name" -> Title
    ("TS-Org Dept Code", "TS-Org Dept Code"),  # kept right key (pandas)
    ("TS-Org Dept Title", "TS-Org Dept Title"),
    ("E-Class Code", "JOB_ECLS"),
    ("E-Class", "E-Class Description"),  # Job Detail E-Class Long Desc
    ("TE M", "TE M"),
    ("Time Entry", "Time Entry"),  # TE M -> mode map (ref 647-650)
    ("Overtime", "Overtime FLSA"),
]

CPA_OUTPUT_COLUMNS = [out for out, _src in CPA_COL_MAP]


def fiscal_window(fiscal_year_end: int) -> tuple[datetime, datetime]:
    """Jul 1 (year-1) → Jun 30 (year) (reference 499-503)."""
    return (
        datetime(fiscal_year_end - 1, 7, 1),
        datetime(fiscal_year_end, 6, 30, 23, 59, 59),
    )


def cpa_pipeline(
    cert_bw: DataFrame,
    cert_mn: DataFrame,
    ts_org: DataFrame,
    ts_dept: DataFrame,
    overtime: DataFrame,
    te_m: DataFrame,
    *,
    fiscal_year_end: int,
    order_by: list[Column | str] | None = None,
    strict: bool = True,
) -> DataFrame:
    """BW + MN certification extracts → enriched 20-column output.

    ``strict=True`` runs the reference's hard assertions (freshness
    raise 508-512, exact schema contract 530-554); format violations
    are never fatal (reference warns and proceeds, 564-581).
    """
    # -- union by name (reference 487-491, U1) --
    df = union_by_name(clean_column_names(cert_bw), clean_column_names(cert_mn))

    # -- parse + bound dates (reference 494-518) --
    df = df.withColumn(
        "TRAN_CREATE_DT", to_timestamp_coerce("TRAN_CREATE_DT")
    ).withColumn("TRAN_CLOSED_DT", to_timestamp_coerce("TRAN_CLOSED_DT"))
    fy_start, fy_end = fiscal_window(fiscal_year_end)
    if strict:
        # hard failure if data predates one fiscal year before the window
        check_freshness(
            df, "TRAN_CREATE_DT", not_before=datetime(fiscal_year_end - 2, 7, 1)
        )
    df = df.filter(F.col("TRAN_CREATE_DT").between(F.lit(fy_start), F.lit(fy_end)))

    # -- schema contract (reference 522-554: name AND position) --
    if strict:
        check_schema_contract(df, CPA_EXPECTED_COLUMNS, strict_order=True)

    # -- derive + validate (reference 557-591) --
    df = df.withColumn("JOB_TS_COAS", ensure_string("JOB_TS_COAS")).withColumn(
        "JOB_TS_ORGN", ensure_string("JOB_TS_ORGN")
    )
    df = df.withColumn("TS-Org Code", concat_key("JOB_TS_COAS", "JOB_TS_ORGN"))
    df = df.withColumn("Dept TS-Org", F.substring("TS-Org Code", 1, 5))
    df = df.withColumn(
        "UIN Job", concat_key(ensure_string("UIN"), ensure_string("JOB"))
    )

    # -- enrich (reference 598-663, J4-J7 + mode map) --
    df = safe_left_join(
        df, clean_column_names(ts_org), ["TS-Org Code"], payload=["TS-Org Title"]
    )
    # Dept join: pandas left_on/right_on keeps the right key column
    # ("TS-Org Dept Code"), and the reference's 20-column projection
    # emits it — carry it as a payload copy (same idiom as pua.py).
    dept_dim = clean_column_names(ts_dept).withColumn(
        "__dept_key", F.col("TS-Org Dept Code")
    )
    df = safe_left_join(
        df,
        dept_dim,
        {"Dept TS-Org": "TS-Org Dept Code"},
        payload=["TS-Org Dept Title", "__dept_key"],
    ).withColumnRenamed("__dept_key", "TS-Org Dept Code")
    # TE merge brings TE M itself in from the TE table (the cert feed
    # has no TE M column — reference 626-631).
    te_clean = clean_column_names(te_m)
    df = safe_left_join(
        df,
        te_clean,
        ["UIN Job"],
        payload=["TE M", "Time Entry Method", "Time Entry Type"],
    )
    # "Time Entry" canonical creation (reference 634-650): existing
    # Time Entry wins where non-blank, else the TE M -> mode map; an
    # unmapped TE M stays null (pandas .map semantics, no fallback).
    te_mode = mode_by_group(
        te_clean.na.drop(subset=["TE M", "Time Entry Method"]),
        "TE M",
        "Time Entry Method",
        "__te_mode",
    )
    if "TE M" in df.columns:
        df = safe_left_join(df, te_mode, ["TE M"], payload=["__te_mode"], dedup_dim=False)
        if "Time Entry" in df.columns:
            df = df.withColumn(
                "Time Entry", coalesce_fill("Time Entry", "__te_mode")
            )
        else:
            df = df.withColumn("Time Entry", F.col("__te_mode"))
        df = df.drop("__te_mode")
    # Overtime + E-Class description (two-key merge, reference 653-663);
    # the long-desc column null-fills when the dim feed lacks it.
    ot_dim = clean_column_names(overtime)
    ot_payload = ["Overtime FLSA"] + (
        ["Job Detail E-Class Long Desc"]
        if "Job Detail E-Class Long Desc" in ot_dim.columns
        else []
    )
    df = safe_left_join(
        df,
        ot_dim,
        {"JOB_ECLS": "Job Eclass", "PAY_ID": "Pay ID"},
        payload=ot_payload,
    )
    if "Job Detail E-Class Long Desc" in df.columns:
        df = df.withColumnRenamed(
            "Job Detail E-Class Long Desc", "E-Class Description"
        )

    # -- filter + dedup cascade (666-695): ACTION filter -> keep-first
    # by UIN Job -> string normalize -> keep-first by TRAN_ID. Each
    # keep-first subsumes the reference's full-row distinct before it
    # (667, 688): identical rows share the key and cannot be told apart --
    df = df.filter(F.col("ACTION") == F.lit("3 - Apply"))
    ob = order_by or [F.asc("TRAN_ID"), F.asc("UIN Job")]
    df = dedup_keep_first(df, ["UIN Job"], ob)  # keep-first (668)

    # -- normalize numeric-ish strings (reference 669-682, F15) --
    # The reference loops over ALL columns (`for col in df_cpa_fy.columns`)
    # coercing each cell: int(float(x)) for integral digit-strings, then
    # astype(str).strip() and an UNCONDITIONAL trailing-'.0' strip on
    # every value ('-123.0'→'-123', 'v1.0'→'v1'); the two date columns
    # re-parse back to datetime (684-691). normalize_cell carries the
    # full chain (both the integral coercion and the universal strip);
    # the one documented divergence is NULL handling — the reference's
    # astype(str) stringifies NaN to 'nan', we keep typed NULLs (see
    # normalize_cell's docstring for why the dedup cascade is
    # unaffected). Timestamp columns stay typed (their string
    # round-trip in the reference is the identity for valid dates).
    ts_types = ("timestamp", "date")
    df = df.select(
        *[
            F.col(f.name).alias(f.name)
            if f.dataType.typeName() in ts_types
            else normalize_cell(F.col(f.name)).alias(f.name)
            for f in df.schema.fields
        ]
    )
    df = dedup_keep_first(df, ["TRAN_ID"], ob)  # keep-first (690-695)

    # -- COLLEGE split (reference 698-706, F6) --
    code, name = split_code_name("COLLEGE")
    df = df.withColumn("College Code", code).withColumn("College Name", name)

    # -- contract projection: rename + reorder + null-fill, the exact
    # 20 PreTAM columns (reference 711-738) --
    df = dedupe_column_names(df)
    return select_contract(df, CPA_COL_MAP)
