"""Policy model, validation gate, and mask_model rewriter tests."""

from __future__ import annotations

import pytest

from dbt_gdpr_anonymizer_spark.config import EngineSettings
from dbt_gdpr_anonymizer_spark.policy import (
    SERVICES_POLICY,
    ColumnPolicy,
    PolicyError,
    TablePolicy,
    mask_model,
    validate_policy,
)

CONF = EngineSettings(salt_key="dev_salt_UNSAFE")


def test_validate_policy_gate():
    bad = TablePolicy(
        name="t", columns={"email": ColumnPolicy(pii=True, anonymization_method=None)}
    )
    with pytest.raises(PolicyError):
        validate_policy(bad)
    validate_policy(SERVICES_POLICY)  # should not raise


def test_mask_model_columns_and_order(spark, ci_raw):
    masked = mask_model(ci_raw, SERVICES_POLICY, CONF)
    # every column renamed _anon, order preserved from the physical relation
    assert masked.columns == [f"{c}_anon" for c in ci_raw.columns]


def test_mask_model_applies_methods(spark, ci_raw):
    rows = mask_model(
        ci_raw, SERVICES_POLICY, CONF, compat_aggregate_to_city_passthrough=True
    ).collect()
    r = {row["service_id_anon"]: row for row in rows}
    a = r["TEST001"]
    assert a["contact_email_anon"].startswith("user_")
    assert a["contact_email_anon"].endswith("@anonymized.gouv.fr")
    assert a["contact_phone_anon"] == "+33 1  XX XX XX XX"
    assert a["latitude_anon"] == 48.86
    assert a["longitude_anon"] == 2.35
    # reference compat: aggregate_to_city has no branch -> pass-through
    assert a["street_address_anon"] == "10 rue de Paris"
    # non-PII pass-through
    assert a["service_name_anon"] == "Service Test 1"


def test_mask_model_aggregate_to_city_real(spark, ci_raw):
    rows = mask_model(
        ci_raw, SERVICES_POLICY, CONF, compat_aggregate_to_city_passthrough=False
    ).collect()
    r = {row["service_id_anon"]: row for row in rows}
    assert r["TEST001"]["street_address_anon"] == "Paris"
    assert r["TEST002"]["street_address_anon"] == "Marseille"


def test_mask_model_suppress_and_unknown(spark):
    df = spark.createDataFrame([("x", "y")], "a string, b string")
    tp = TablePolicy(
        name="t",
        columns={
            "a": ColumnPolicy(pii=True, anonymization_method="suppress"),
            "b": ColumnPolicy(pii=False, anonymization_method="not_a_method"),
        },
    )
    row = mask_model(df, tp, CONF).collect()[0]
    assert row["a_anon"] is None
    assert row["b_anon"] == "y"  # unknown method -> pass-through


def test_policies_from_schema_yaml_reference_shape(spark):
    """Parses the reference's dbt schema.yml layout (models -> columns ->
    meta) and the result drives mask_model identically to a hand-built
    policy."""
    from dbt_gdpr_anonymizer_spark.policy import (
        mask_model,
        policies_from_schema_yaml,
    )

    yml = """
version: 2
models:
  - name: stg_services
    columns:
      - name: contact_email
        meta:
          pii: true
          pii_type: direct_identifier
          anonymization_method: hash_sha256
          legal_basis: legitimate_interest
          custom_dbt_field: ignored
      - name: latitude
        meta:
          pii: true
          pii_type: quasi_identifier
          anonymization_method: round_2_decimals
      - name: city
"""
    pols = policies_from_schema_yaml(yml)
    assert set(pols) == {"stg_services"}
    pol = pols["stg_services"]
    assert pol.columns["contact_email"].anonymization_method == "hash_sha256"
    assert pol.columns["latitude"].pii_type == "quasi_identifier"
    assert pol.columns["city"].pii is False

    df = spark.createDataFrame(
        [("a@b.fr", 48.85661, "Paris")],
        "contact_email string, latitude double, city string",
    )
    out = mask_model(df, pol).collect()[0]
    assert out["contact_email_anon"].startswith("user_")
    assert out["contact_email_anon"].endswith("@anonymized.gouv.fr")
    assert out["latitude_anon"] == 48.86
    assert out["city_anon"] == "Paris"


def test_sql_literals_read_the_same_under_both_parser_modes(spark):
    """A salt with a quote and a backslash, and the three PII regexes,
    are templated into SQL text; they must give the same hash and the
    same scan hits whether or not ``escapedStringLiterals`` is on (a
    doubled-backslash regex matches nothing once escapes are off)."""
    import hashlib

    from dbt_gdpr_anonymizer_spark.operators.validate import scan_for_pii

    salt = "a'b\\c"
    conf = EngineSettings(salt_key=salt)
    df = spark.createDataFrame(
        [("x@y.fr", "+33 1 23 45 67 89", "12 rue de la Paix")],
        "contact_email string, contact_phone string, street_address string",
    )
    policy = TablePolicy(
        name="t",
        columns={
            "contact_email": ColumnPolicy(pii=True, anonymization_method="hash_sha256")
        },
    )
    want_email = (
        "user_"
        + hashlib.sha256(("x@y.fr" + salt).encode()).hexdigest()[:16]
        + "@anonymized.gouv.fr"
    )
    want_scan = [
        ("contact_email", "non_anonymized_email"),
        ("contact_phone", "unmasked_fr_phone"),
        ("street_address", "street_address"),
    ]
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            email = mask_model(df, policy, conf).first()["contact_email_anon"]
            scan = sorted(
                (r.column_name, r.issue_type) for r in scan_for_pii(df).collect()
            )
            assert (email, scan) == (want_email, want_scan), mode
    finally:
        spark.conf.set(key, before)
