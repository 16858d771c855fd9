"""Pins the timezone-cancellation property of the survival family's
day arithmetic: because every cast in the NTZ→TIMESTAMP→date chain is
LAZY and therefore executes under one session timezone, the
conversions cancel end-to-end — the wall-clock day is recovered under
ANY session zone, for the plain cast AND the explicit NTZ round-trip
(`survival_km_day_ntz`).

HISTORY: this exclusion was half of the r7 discriminating experiment
for the three-round driver-only hash red on the survival family. The
experiment came back all-four-red, and the r7 judge traced the actual
mechanism to neither time zones nor decimal rendering but to the
oracle's OWN output type: `at_risk` was `count(*) − sum(n_total)
OVER (...)`, and DuckDB `sum(BIGINT)` returns HUGEINT — exact on the
local fetchall path, but rendered float64/decimal128 on the driver's
pandas/Arrow fetch, flipping the value hash. Fixed in r8 by
CAST(... AS BIGINT) in `_KM_ORACLE_CTES`; the class is now rejected
locally by the oracle output-type guard (scripts/verify_contract.py,
tests/test_oracle_parity.py::test_parity). The TZ
tests below remain as standing protection for the day-cast logic."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def test_ntz_roundtrip_cancels_session_timezone(spark):
    # a wall-clock instant near midnight, where day casts are
    # TZ-sensitive: 2024-01-15 23:30 written as NTZ (like the fixture
    # parquet), loaded under each session TZ via NTZ->TIMESTAMP
    wall = datetime.datetime(2024, 1, 15, 23, 30, 0)
    original = spark.conf.get("spark.sql.session.timeZone")
    days = {}
    try:
        for tz in ("UTC", "America/Los_Angeles", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = spark.createDataFrame(
                [(wall,)], "ts_ntz timestamp_ntz"
            ).select(F.col("ts_ntz").cast("timestamp").alias("ts"))
            row = df.select(
                F.col("ts").cast("date").alias("plain"),
                F.col("ts").cast("timestamp_ntz").cast("date").alias("ntz"),
            ).collect()[0]
            days[tz] = (row["plain"], row["ntz"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)
    # BOTH spellings recover the wall-clock day under every zone —
    # the lazy-cast chain executes under a single session TZ, so the
    # NTZ→TIMESTAMP and TIMESTAMP→date shifts cancel exactly
    assert all(
        v == (datetime.date(2024, 1, 15), datetime.date(2024, 1, 15))
        for v in days.values()
    ), days


def test_day_ntz_twin_matches_risk_table_under_utc(spark):
    from heapdumpstardiver_spark.queries.windows import (
        survival_km_day_ntz,
        survival_km_risk_table,
    )

    a = survival_km_risk_table(spark, "/root/testdata/sf0.001").collect()
    b = survival_km_day_ntz(spark, "/root/testdata/sf0.001").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
