"""End-to-end 4-layer pipeline tests on the CI golden fixture (SURVEY §5)."""

from __future__ import annotations

import datetime
import hashlib

from dbt_gdpr_anonymizer_spark.config import EngineSettings
from dbt_gdpr_anonymizer_spark.operators.validate import (
    assert_no_pii_in_mart,
    check_anonymization_quality,
    k_anonymity_violations,
    scan_for_pii,
)
from dbt_gdpr_anonymizer_spark.plans import pipeline

CONF = EngineSettings(salt_key="dev_salt_UNSAFE")


def layers(ci_raw):
    return pipeline.run_pipeline(ci_raw, conf=CONF)


def test_staging(spark, ci_raw):
    st = pipeline.staging(ci_raw)
    rows = {r["service_id"]: r for r in st.collect()}
    a = rows["TEST001"]
    assert a["service_key"] == hashlib.md5(b"TEST001").hexdigest()
    assert a["last_updated"] == datetime.date(2025, 1, 1)
    assert isinstance(a["latitude"], float)
    assert (a["has_email"], a["has_phone"], a["has_address"], a["has_coordinates"]) == (
        1,
        1,
        1,
        1,
    )
    # null-filter: drop rows missing service_id/name
    extra = spark.createDataFrame(
        [(None, "x") + (None,) * 13], ci_raw.schema
    )
    assert pipeline.staging(ci_raw.unionByName(extra)).count() == 2


def test_anonymize_layer(spark, ci_raw):
    anon = layers(ci_raw)["anonymized"]
    r = {x["service_id_anon"]: x for x in anon.collect()}["TEST001"]
    assert r["anonymization_version"] == "1.0.0"
    assert r["gps_anonymization_method"] == "round_2_decimals"
    assert r["contact_email_anon"].endswith("@anonymized.gouv.fr")
    assert r["anonymized_at"] is not None


def test_enrich_layer(spark, ci_raw):
    enr = layers(ci_raw)["enriched"]
    r = {x["service_id_anon"]: x for x in enr.collect()}
    assert r["TEST001"]["organization_category"] == "autres"  # 'ministere' not in map
    assert r["TEST002"]["organization_category"] == "operateurs"
    assert r["TEST001"]["department_code_anon"] == "75"
    assert r["TEST001"]["geohash_anon"] == "geo_48.86_2.35"
    assert r["TEST001"]["is_email_properly_anonymized"] == 1
    assert r["TEST001"]["is_phone_properly_anonymized"] == 1


def test_mart_layer(spark, ci_raw):
    m = layers(ci_raw)["mart"]
    r = {x["service_id"]: x for x in m.collect()}
    assert set(r) == {"TEST001", "TEST002"}
    a = r["TEST001"]
    assert a["region"] == "Île-de-France"
    assert r["TEST002"]["region"] == "Provence-Alpes-Côte d'Azur"
    assert a["organization_type_label"] == "Ministère"
    assert r["TEST002"]["organization_type_label"] == "Établissement Public"
    assert a["data_completeness_score"] == 4
    assert a["data_quality_level"] == "Complet"
    assert a["processing_pipeline"] == "GDPR Anonymizer v1.0.0"
    # mart never exposes street_address
    assert "street_address" not in m.columns


def test_no_pii_in_mart(spark, ci_raw):
    m = layers(ci_raw)["mart"]
    assert assert_no_pii_in_mart(m).count() == 0
    assert scan_for_pii(m, "mart").count() == 0


def test_pii_detected_in_raw_martlike(spark, ci_raw):
    # sanity: the scanners DO fire on un-anonymized data
    fake_mart = pipeline.staging(ci_raw).selectExpr(
        "contact_email", "contact_phone", "latitude", "longitude", "street_address"
    )
    assert assert_no_pii_in_mart(fake_mart).count() > 0
    assert scan_for_pii(fake_mart, "raw").count() > 0


def test_quality_metrics(spark, ci_raw):
    metrics = check_anonymization_quality(layers(ci_raw)["enriched"])
    assert metrics.emails["success_rate"] == 100.0
    assert metrics.phones["success_rate"] == 100.0
    assert metrics.coordinates["success_rate"] == 100.0


def test_k_anonymity(spark, ci_raw):
    enr = layers(ci_raw)["enriched"]
    viol = k_anonymity_violations(enr, ["organization_category"], k=5)
    # 2-row fixture: both groups are below k=5
    assert viol.count() == 2
    assert k_anonymity_violations(enr, ["organization_category"], k=1).count() == 0


def test_cli_end_to_end(spark, ci_raw, tmp_path):
    """scripts/run_pipeline.py drives ingest -> 4 layers -> PII report ->
    validation gate and exits 0 on the clean CI fixture — the `make run &&
    make validate` contract."""
    import importlib.util
    import json
    import os

    raw_path = str(tmp_path / "raw")
    ci_raw.write.mode("overwrite").parquet(raw_path)
    out_root = str(tmp_path / "out")

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_cli",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "run_pipeline.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # k=1: a 2-row fixture can satisfy it -> clean exit
    code = mod.main(["--input", raw_path, "--output", out_root, "--k", "1"])
    assert code == 0
    report = json.loads(
        (tmp_path / "out" / "pii_report" / "pii_report.json").read_text()
    )
    assert any(r["column_name"] == "contact_email" for r in report)
    # mart layer materialized as parquet
    mart = spark.read.parquet(f"{out_root}/mart")
    assert mart.count() == 2

    # default k=5 cannot hold with 2 rows: gate exits 1 AND persists the
    # violating groups (store_failures semantics)
    code = mod.main(["--input", raw_path, "--output", out_root])
    assert code == 1
    viol = spark.read.parquet(f"{out_root}/test_results/k_anonymity")
    assert viol.count() > 0


def test_validate_empty_mart_yields_zero_counts(spark, ci_raw):
    """F.sum over zero rows is NULL; validate() must coalesce so an empty
    mart/enriched produces clean zero counts, not None arithmetic."""
    from dbt_gdpr_anonymizer_spark.operators.validate import validate

    ls = layers(ci_raw)
    empty_mart = ls["mart"].limit(0)
    empty_enr = ls["enriched"].limit(0)
    report = validate(empty_enr, empty_mart)
    assert report["pii_violations"] == 0
    assert report["pii_scan_hits"] == 0
    assert report["quality"]["emails"] == {
        "total": 0,
        "properly_anonymized": 0,
        "improperly_anonymized": 0,
        "success_rate": 0.0,
    }
    assert report["passed"] is True


def test_generic_schema_tests_vocabulary(spark):
    from dbt_gdpr_anonymizer_spark.operators.validate import (
        ColumnTest,
        generic_schema_tests,
    )

    child = spark.createDataFrame(
        [(1, "a", 5, 1), (1, "b", 50, 1), (2, None, -5, 9), (None, "c", 7, 2)],
        "k long, name string, v long, fk long",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    tests = {
        "child": [
            ColumnTest("k", "unique"),            # k=1 duplicated -> 1
            ColumnTest("name", "not_null"),       # one null -> 1
            ColumnTest("v", "accepted_range", lo=0, hi=10),  # -5, 50 -> 2
            ColumnTest("name", "accepted_values", values=("a", "b")),  # 'c'; null NOT counted -> 1
            ColumnTest(
                "fk", "relationships", to_table="parent", to_field="pk"
            ),  # fk=9 orphan -> 1
            ColumnTest("v", "not_null", where="k = 2"),  # scoped: none null -> 0
        ],
        "parent": [ColumnTest("pk", "unique")],   # 0
    }
    out = {
        (r.table_name, r.column_name, r.test_name): r.n_violations
        for r in generic_schema_tests(
            {"child": child, "parent": parent}, tests
        ).collect()
    }
    assert out == {
        ("child", "k", "unique"): 1,
        ("child", "name", "not_null"): 1,
        ("child", "v", "accepted_range"): 2,
        ("child", "name", "accepted_values"): 1,
        ("child", "fk", "relationships"): 1,
        ("child", "v", "not_null"): 0,
        ("parent", "pk", "unique"): 0,
    }


def test_mapping_expr_escaping(spark):
    """Mapping keys/values with backslashes and quotes, and column
    names with backticks, must route exactly (the parsed-SQL rewrite
    must match the old F.lit chain's raw-byte comparison) under either
    ``escapedStringLiterals`` parser setting."""
    from pyspark.sql import functions as F

    from dbt_gdpr_anonymizer_spark.plans.pipeline import _mapping_expr

    df = spark.createDataFrame(
        [("C:\\temp",), ("don't",), ("plain",), (None,)], ["od`d"]
    )
    m = {"C:\\temp": "bs\\v", "don't": "quo'te", "plain": "ok"}
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            got = {
                r[0]: r.v
                for r in df.select(
                    F.expr("`od``d`").alias("k"),
                    F.expr(_mapping_expr("od`d", m, "MISS")).alias("v"),
                ).collect()
            }
            assert got == {
                "C:\\temp": "bs\\v",
                "don't": "quo'te",
                "plain": "ok",
                None: "MISS",
            }, mode
    finally:
        spark.conf.set(key, before)
