"""The product path's fixed cost and the gate's fused counts.

Job counts are taken under the session fixture (AQE on) from the status
tracker, scoped by a job group: they are exact, so a change that adds a
job to the green path fails here rather than as a slower benchmark.
"""

from __future__ import annotations

import uuid
from collections import Counter

from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.config import EngineSettings
from dbt_gdpr_anonymizer_spark.operators.report import (
    REPORT_SCHEMA,
    export_report,
    pii_inventory,
)
from dbt_gdpr_anonymizer_spark.operators.validate import (
    assert_no_pii_in_mart,
    k_anonymity_violations,
    run_validation_gate,
    scan_for_pii,
    validate,
)
from dbt_gdpr_anonymizer_spark.plans.pipeline import run_pipeline
from dbt_gdpr_anonymizer_spark.policy import SERVICES_POLICY

CONF = EngineSettings(salt_key="dev_salt_UNSAFE")


def jobs_run(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts on this thread."""
    sc = spark.sparkContext
    group = f"witness-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_product_path_job_counts(spark, ci_raw, tmp_path):
    out = str(tmp_path / "out")
    layers = {}
    # one write per table layer; the read-back infers nothing
    assert jobs_run(spark, lambda: layers.update(
        run_pipeline(ci_raw, conf=CONF, output_root=out)
    )) == 3
    # k=1 holds on the 2-row fixture: the clean path
    report = {}
    assert jobs_run(spark, lambda: report.update(
        validate(layers["enriched"], layers["mart"], k=1)
    )) == 5
    assert report["passed"] is True
    assert jobs_run(spark, lambda: run_validation_gate(
        layers["enriched"], layers["mart"], k=1,
        failures_root=str(tmp_path / "fails"),
    )) == 5
    assert not (tmp_path / "fails").exists()
    assert jobs_run(spark, lambda: export_report(
        pii_inventory(spark, [SERVICES_POLICY]), str(tmp_path / "report")
    )) == 0


def test_pii_inventory_types_and_order(spark):
    inv = pii_inventory(spark, [SERVICES_POLICY], with_timestamp=False)
    assert [(f.name, f.dataType) for f in inv.schema.fields] == [
        (f.name, f.dataType) for f in REPORT_SCHEMA.fields
    ]
    rows = inv.collect()
    assert [r.column_name for r in rows] == sorted(SERVICES_POLICY.pii_columns())
    assert rows[0].asDict() == {
        "model_name": "stg_services_publics",
        "column_name": "contact_email",
        "pii_type": "direct_identifier",
        "anonymization_method": "hash_sha256",
        "data_owner": "DPO",
        "legal_basis": "GDPR Art. 6.1.e",
        "retention_days": 730,
        "k_anonymity_target": 5,
    }
    empty = pii_inventory(spark, [])
    assert empty.collect() == []
    assert empty.schema.fields[: len(REPORT_SCHEMA)] == REPORT_SCHEMA.fields
    assert empty.columns[-1] == "report_generated_at"


def test_partitioned_read_back_keeps_string_partition_values(
    spark, ci_raw, tmp_path
):
    """Partition discovery would read department_code '01' back as int 1;
    the read-back pins the written schema instead."""
    raw = ci_raw.withColumn(
        "postal_code",
        F.when(F.col("service_id") == "TEST002", "01000").otherwise(
            F.col("postal_code")
        ),
    )
    layers = run_pipeline(
        raw,
        conf=CONF,
        output_root=str(tmp_path),
        partition_by={"mart": ["department_code"]},
    )
    mart = layers["mart"]
    assert dict(mart.dtypes)["department_code"] == "string"
    assert {r.department_code for r in mart.collect()} == {"01", "75"}


MART_SCHEMA = (
    "service_id string, service_name string, contact_email string, "
    "contact_phone string, latitude double, longitude double"
)
MART_ROWS = [
    # clean
    ("S1", "Mairie", "user_a@anonymized.gouv.fr", "+33 1  XX XX XX XX", 48.86, 2.35),
    # PII in free text: email, phone, street address
    ("S2", "write to jean@example.fr", "user_b@anonymized.gouv.fr",
     "+33 2  XX XX XX XX", 45.76, 4.84),
    ("S3", "call +33 1 23 45 67 89", None, None, None, None),
    # raw email (singular test + scan), unmasked phone without +33
    # (singular test only), too-precise GPS
    ("S4", "10 rue de Paris", "jean@example.fr", "0123456789", 48.8566, 2.35),
    # raw +33 phone (singular test + scan)
    ("S5", "Service", None, "+33 6 12 34 56 78", 43.3, 5.4),
]

ENRICHED_SCHEMA = (
    "organization_category string, contact_email_anon string, "
    "contact_phone_anon string, latitude_anon double, longitude_anon double"
)
ENRICHED_ROWS = [
    # exactly k=3 rows: not a violation
    ("operateurs", "user_a@anonymized.gouv.fr", "+33 1  XX XX XX XX", 48.86, 2.35),
    ("operateurs", "jean@example.fr", None, 48.8566, 2.35),
    ("operateurs", None, "+33 6 12 34 56 78", None, 2.35),
    # 2 rows < k
    ("autres", "user_b@anonymized.gouv.fr", "+33 2  XX XX XX XX", 45.76, 4.84),
    ("autres", None, None, 43.3, 5.4123),
    # the NULL quasi-identifier group, 1 row < k
    (None, "user_c@anonymized.gouv.fr", "+33 3  XX XX XX XX", None, None),
]


def test_validate_report_on_planted_pair(spark):
    mart = spark.createDataFrame(MART_ROWS, MART_SCHEMA)
    enriched = spark.createDataFrame(ENRICHED_ROWS, ENRICHED_SCHEMA)
    detail = {
        "scan__service_name__non_anonymized_email": 1,
        "scan__service_name__unmasked_fr_phone": 1,
        "scan__service_name__street_address": 1,
        "scan__contact_email__non_anonymized_email": 1,
        "scan__contact_phone__unmasked_fr_phone": 1,
    }
    assert validate(enriched, mart, k=3) == {
        "pii_violations": 4,
        "pii_scan_hits": 5,
        "pii_scan_detail": detail,
        "quality": {
            "emails": {
                "total": 4,
                "properly_anonymized": 3,
                "improperly_anonymized": 1,
                "success_rate": 75.0,
            },
            "phones": {
                "total": 4,
                "properly_masked": 3,
                "improperly_masked": 1,
                "success_rate": 75.0,
            },
            "coordinates": {
                "total": 4,
                "properly_rounded": 2,
                "success_rate": 50.0,
            },
        },
        "k_anonymity_ok": False,
        "k_anonymity_violating_groups": 2,
        "passed": False,
    }
    # the red-path row outputs agree with the fused counts
    singular = Counter(r.column_name for r in assert_no_pii_in_mart(mart).collect())
    assert singular == {
        "contact_email": 1,
        "contact_phone": 2,
        "latitude/longitude": 1,
    }
    scan = Counter(
        f"scan__{r.column_name}__{r.issue_type}" for r in scan_for_pii(mart).collect()
    )
    assert scan == detail
    groups = k_anonymity_violations(enriched, ["organization_category"], k=3)
    assert sorted(
        (r.organization_category or "", r.group_size) for r in groups.collect()
    ) == [("", 1), ("autres", 2)]
