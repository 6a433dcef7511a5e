"""PII inventory report — the DPO-facing audit artifact.

Reference: dbt_project/macros/privacy/generate_pii_report.sql (Jinja walk of
the graph emitting UNION ALL literals) and scripts/export_pii_report.py
(the same inventory hard-coded in Python). Here there is exactly one source
of truth — the policy registry — turned into a small DataFrame; no codegen,
no duplication.
"""

from __future__ import annotations

import csv
import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_gdpr_anonymizer_spark.config import EngineSettings, settings
from dbt_gdpr_anonymizer_spark.policy import PolicyError, TablePolicy, _sql_str

REPORT_SCHEMA = T.StructType(
    [
        T.StructField("model_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("pii_type", T.StringType(), True),
        T.StructField("anonymization_method", T.StringType(), True),
        T.StructField("data_owner", T.StringType(), True),
        T.StructField("legal_basis", T.StringType(), True),
        T.StructField("retention_days", T.IntegerType(), True),
        T.StructField("k_anonymity_target", T.IntegerType(), True),
    ]
)


def pii_inventory(
    spark: SparkSession,
    policies: list[TablePolicy],
    conf: EngineSettings | None = None,
    *,
    strict: bool = True,
    with_timestamp: bool = True,
) -> DataFrame:
    """Inventory of every PII column across models (generate_pii_report.sql:20-93).

    ``strict`` reproduces the compile-gate (D1): a PII column without an
    anonymization method raises instead of reporting.

    The rows are policy-sized, so they are sorted here and handed to
    Spark as one SQL ``VALUES`` relation: a local relation that
    ``collect()`` answers without a Spark job (``createDataFrame`` over a
    Python list plus a Spark sort cost 3 jobs and a Python worker start).
    """
    conf = conf or settings()
    rows = []
    for tp in policies:
        for col, p in sorted(tp.pii_columns().items()):
            if strict and not p.anonymization_method:
                raise PolicyError(
                    f"PII column {tp.name}.{col} has no anonymization_method"
                )
            rows.append(
                (
                    tp.name,
                    col,
                    p.pii_type,
                    p.anonymization_method,
                    p.data_owner or conf.data_owner,
                    p.legal_basis,
                    p.retention_days
                    if p.retention_days is not None
                    else conf.retention_days_default,
                    p.k_anonymity_target
                    if p.k_anonymity_target is not None
                    else conf.k_anonymity_min,
                )
            )
    if rows:
        rows.sort(key=lambda r: (r[0], r[1]))
        typed = ", ".join(
            f"cast(col{i} as {f.dataType.simpleString()}) AS {f.name}"
            for i, f in enumerate(REPORT_SCHEMA.fields, 1)
        )
        values = ", ".join(
            "(" + ", ".join(_sql_value(v) for v in r) + ")" for r in rows
        )
        df = spark.sql(f"SELECT {typed} FROM VALUES {values}")
    else:
        df = spark.createDataFrame([], REPORT_SCHEMA)
    if with_timestamp:
        df = df.select("*", F.current_timestamp().alias("report_generated_at"))
    return df


def _sql_value(v: str | int | None) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return _sql_str(v)
    return str(int(v))


def summarize_inventory(inventory: DataFrame) -> dict:
    """Counts for the log banner (generate_pii_report.sql:103-137)."""
    by_type = {
        r["pii_type"]: r["count"]
        for r in inventory.groupBy("pii_type").count().collect()
    }
    return {
        "pii_columns": inventory.count(),
        "models": inventory.select("model_name").distinct().count(),
        "by_pii_type": by_type,
    }


def export_report(
    inventory: DataFrame, out_dir: str, formats: tuple[str, ...] = ("json", "csv")
) -> list[str]:
    """Write the report artifacts (export_pii_report.py:167-195).

    The inventory is policy-sized (tiny), so a driver-side dump of collected
    rows is appropriate — the report itself never scales with data volume.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = [r.asDict() for r in inventory.collect()]
    for r in rows:
        ts = r.get("report_generated_at")
        if ts is not None:
            r["report_generated_at"] = ts.isoformat()
    written = []
    if "json" in formats:
        path = out / "pii_report.json"
        path.write_text(json.dumps(rows, indent=2, ensure_ascii=False))
        written.append(str(path))
    if "csv" in formats:
        path = out / "pii_report.csv"
        with path.open("w", newline="", encoding="utf-8") as fh:
            if rows:
                writer = csv.DictWriter(fh, fieldnames=list(rows[0].keys()))
                writer.writeheader()
                writer.writerows(rows)
        written.append(str(path))
    return written


ROPA_SCHEMA = T.StructType(
    [
        T.StructField("processing_activity", T.StringType(), False),
        T.StructField("data_categories", T.StringType(), False),
        T.StructField("special_category", T.BooleanType(), False),
        T.StructField("legal_bases", T.StringType(), True),
        T.StructField("retention_days_max", T.IntegerType(), True),
        T.StructField("n_pii_columns", T.IntegerType(), False),
        T.StructField("n_direct_identifiers", T.IntegerType(), False),
        T.StructField("data_owners", T.StringType(), True),
        T.StructField("safeguards", T.StringType(), True),
    ]
)


def processing_records(
    spark: SparkSession,
    policies: list[TablePolicy],
    conf: EngineSettings | None = None,
) -> DataFrame:
    """GDPR Art. 30(1) record of processing activities (RoPA) — the
    register every controller must be able to hand the supervisory
    authority: one row per processing activity (here: per policied
    model), aggregating the column-level metadata the policy registry
    already holds into the Art. 30(1) field set — categories of data
    (30(1)(c)), retention envelope (30(1)(f), the MAX across columns:
    the activity keeps data as long as its longest-lived column),
    technical safeguards (30(1)(g): the distinct anonymization methods
    applied), legal bases and owners. The reference exports only the
    column-level inventory (generate_pii_report.sql); the RoPA rollup is
    the controller-facing artifact derived from the same single source
    of truth — no second registry to drift.

    Like :func:`pii_inventory`, the output is policy-sized (one row per
    model), so driver-side assembly is the correct plan at any corpus
    scale: the register scales with the POLICY, never the data.
    """
    conf = conf or settings()
    rows = []
    for tp in policies:
        pii = sorted(tp.pii_columns().items())
        if not pii:
            continue
        cats = sorted({p.pii_type for _, p in pii if p.pii_type})
        bases = sorted({p.legal_basis for _, p in pii if p.legal_basis})
        owners = sorted(
            {p.data_owner or conf.data_owner for _, p in pii}
        )
        methods = sorted(
            {p.anonymization_method for _, p in pii if p.anonymization_method}
        )
        rets = [
            p.retention_days
            if p.retention_days is not None
            else conf.retention_days_default
            for _, p in pii
        ]
        rows.append(
            (
                tp.name,
                ",".join(cats),
                any(
                    p.pii_type in ("health", "biometric", "special")
                    for _, p in pii
                ),
                ",".join(bases) or None,
                max(rets) if rets else None,
                len(pii),
                sum(
                    1
                    for _, p in pii
                    if p.pii_type == "direct_identifier"
                ),
                ",".join(owners) or None,
                ",".join(methods) or None,
            )
        )
    return spark.createDataFrame(rows, ROPA_SCHEMA).orderBy(
        "processing_activity"
    )
