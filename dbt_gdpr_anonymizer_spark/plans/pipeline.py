"""The 4-layer anonymization pipeline: staging → anonymized → enriched → mart.

Reference models (all under /root/reference/dbt_project/models/):
    staging/stg_services_publics.sql            -> staging()
    intermediate/privacy/int_services_anonymized.sql -> anonymize()
    intermediate/services/int_services_enriched.sql  -> enrich()
    marts/mart_services_open_data.sql           -> mart()

Each stage is a pure ``DataFrame -> DataFrame`` function, so Catalyst sees one
lazy plan across all four layers and optimizes globally — unlike dbt, which
materializes at every model boundary. ``run_pipeline`` optionally persists
intermediate layers (the dbt behavior) when an output root is given; at
cluster scale you would partition those writes by e.g. ``department_code``.

The dept→region and type→label lookups are CASE-chain expressions built from
mapping dicts (``_mapping_expr``): at their tiny cardinality an expression is
cheaper than even a broadcast join (no exchange, stays inside whole-stage
codegen), and the mapping stays data (editable, auditable). Swap to a
``broadcast()`` lookup join only if a mapping ever grows past a few hundred
entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.config import EngineSettings, settings
from dbt_gdpr_anonymizer_spark.policy import (
    SERVICES_POLICY,
    TablePolicy,
    _sql_ident,
    _sql_str,
    mask_model,
)

RAW_COLUMNS = [
    "service_id",
    "service_name",
    "parent_organization",
    "organization_type",
    "contact_email",
    "contact_phone",
    "website",
    "street_address",
    "postal_code",
    "city",
    "commune",
    "latitude",
    "longitude",
    "insee_code",
    "last_updated",
]

# int_services_enriched.sql:42-76 — organization_type -> category
ORGANIZATION_CATEGORY_MAP = {
    "administration-centrale-ou-ministere": "services_centraux",
    "cabinet-ministeriel": "services_centraux",
    "service-a-competence-nationale": "services_centraux",
    "secretaire-d-etat": "services_centraux",
    "service-deconcentre": "services_centraux",
    "autorite-publique-independante": "autorites",
    "autorite-administrative-independante": "autorites",
    "etablissement-public": "operateurs",
    "groupement-d-interet-public": "operateurs",
    "etablissement-d-enseignement": "enseignement",
    "ambassade-ou-mission-diplomatique": "diplomatie",
    "institution-europeenne": "institutions",
    "institution": "institutions",
    "conseil-comite-commission-organisme-consultatif": "instances_consultatives",
}

# mart_services_open_data.sql:54-59 — type -> display label
ORGANIZATION_TYPE_LABELS = {
    "ministere": "Ministère",
    "autorite-administrative-independante": "Autorité Indépendante",
    "etablissement-public": "Établissement Public",
    "service-central": "Service Central",
}

# mart_services_open_data.sql:76-83 — department -> region
REGION_MAP = {
    **{d: "Île-de-France" for d in ["75", "77", "78", "91", "92", "93", "94", "95"]},
    **{d: "Hauts-de-France" for d in ["59", "62"]},
    **{d: "Auvergne-Rhône-Alpes" for d in ["69", "01", "42", "63"]},
    **{
        d: "Provence-Alpes-Côte d'Azur"
        for d in ["13", "83", "84", "04", "05", "06"]
    },
    **{d: "Nouvelle-Aquitaine" for d in ["33", "24", "40", "47", "64"]},
    **{d: "Occitanie" for d in ["31", "09", "12", "32", "46", "65", "81", "82"]},
}


def _mapping_expr(col: str, mapping: dict[str, str], default: str) -> str:
    """CASE chain from a mapping dict, as SQL text for a layer's
    ``selectExpr`` (kept as an expression: tiny cardinality, avoids even
    a broadcast for the common enrich path). NULL input falls to ELSE.

    Keys, values and the default go through ``policy._sql_str``, so a
    backslash or quote compares as raw bytes under either
    ``escapedStringLiterals`` setting; backticks in ``col`` double."""
    if not mapping:
        return _sql_str(default)
    col_sql = _sql_ident(col)
    arms = " ".join(
        f"WHEN {col_sql} = {_sql_str(k)} THEN {_sql_str(v)}"
        for k, v in mapping.items()
    )
    return f"CASE {arms} ELSE {_sql_str(default)} END"


# Each layer is ONE parsed projection (``selectExpr``): every chained F.*
# call is a py4j round trip, and hundreds of them per layer are a fixed
# cost that dominates small deltas. Two expressions must stay the SQL
# twins of their Column builders: the staging md5 over the null sentinel
# is masking.surrogate_key, the enrich geohash is masking.create_geohash.


def staging(raw: DataFrame) -> DataFrame:
    """Clean + type the raw seed (stg_services_publics.sql:39-95)."""
    return raw.selectExpr(
        "md5(coalesce(cast(service_id as string),"
        " '_dbt_utils_surrogate_key_null_')) AS service_key",
        "service_id",
        "service_name",
        "parent_organization",
        "organization_type",
        "contact_email",
        "contact_phone",
        "website",
        "street_address",
        "postal_code",
        "city",
        "commune",
        "cast(latitude as double) AS latitude",
        "cast(longitude as double) AS longitude",
        "insee_code",
        "cast(last_updated as date) AS last_updated",
        "current_timestamp() AS loaded_at",
        "CASE WHEN contact_email IS NOT NULL THEN 1 ELSE 0 END AS has_email",
        "CASE WHEN contact_phone IS NOT NULL THEN 1 ELSE 0 END AS has_phone",
        "CASE WHEN street_address IS NOT NULL THEN 1 ELSE 0 END AS has_address",
        "CASE WHEN cast(latitude as double) IS NOT NULL"
        " AND cast(longitude as double) IS NOT NULL THEN 1 ELSE 0 END"
        " AS has_coordinates",
    ).where("service_id IS NOT NULL AND service_name IS NOT NULL")


def anonymize(
    staged: DataFrame,
    policy: TablePolicy = SERVICES_POLICY,
    conf: EngineSettings | None = None,
    *,
    compat_aggregate_to_city_passthrough: bool = False,
) -> DataFrame:
    """Policy-driven masking + audit columns (int_services_anonymized.sql:41-50).

    Default actually aggregates street addresses to the city value. The
    reference has NO dispatcher branch for ``aggregate_to_city``, so its
    street addresses leak (pass-through) into every persisted layer —
    set the flag True only to reproduce that bug-compat behavior.
    """
    conf = conf or settings()
    masked = mask_model(
        staged,
        policy,
        conf,
        compat_aggregate_to_city_passthrough=compat_aggregate_to_city_passthrough,
    )
    return masked.select(
        "*",
        F.current_timestamp().alias("anonymized_at"),
        F.lit(conf.project_version).alias("anonymization_version"),
        F.lit(f"round_{conf.gps_precision}_decimals").alias(
            "gps_anonymization_method"
        ),
    )


def enrich(anon: DataFrame, conf: EngineSettings | None = None) -> DataFrame:
    """Business enrichment (int_services_enriched.sql:35-99)."""
    conf = conf or settings()
    p = int(conf.gps_precision)

    def geo(c: str) -> str:
        return f"cast(cast(cast({c} as double) as decimal(18,{p})) as string)"

    category = _mapping_expr(
        "organization_type_anon", ORGANIZATION_CATEGORY_MAP, "autres"
    )
    return anon.selectExpr(
        "*",
        f"{category} AS organization_category",
        "substring(postal_code_anon, 1, 2) AS department_code_anon",
        f"concat('geo_', {geo('latitude_anon')}, '_', {geo('longitude_anon')})"
        " AS geohash_anon",
        "CASE WHEN contact_email_anon LIKE '%@anonymized.gouv.fr' THEN 1"
        " ELSE 0 END AS is_email_properly_anonymized",
        "CASE WHEN contact_phone_anon LIKE '%XX XX XX XX' THEN 1"
        " ELSE 0 END AS is_phone_properly_anonymized",
    )


def mart(enriched: DataFrame, conf: EngineSettings | None = None) -> DataFrame:
    """Open-data mart: rename *_anon -> clean, region mapping, quality filter
    (mart_services_open_data.sql:37-146)."""
    completeness = (
        "(cast(has_email_anon as int) + cast(has_phone_anon as int)"
        " + cast(has_address_anon as int) + cast(has_coordinates_anon as int))"
    )
    type_label = _mapping_expr(
        "organization_type_anon", ORGANIZATION_TYPE_LABELS, "Autre"
    )
    region = _mapping_expr("department_code_anon", REGION_MAP, "Autre région")
    return enriched.selectExpr(
        "service_id_anon AS service_id",
        "service_name_anon AS service_name",
        "parent_organization_anon AS parent_organization",
        "organization_type_anon AS organization_type",
        f"{type_label} AS organization_type_label",
        "contact_email_anon AS contact_email",
        "contact_phone_anon AS contact_phone",
        "city_anon AS city",
        "commune_anon AS commune",
        "department_code_anon AS department_code",
        f"{region} AS region",
        "latitude_anon AS latitude",
        "longitude_anon AS longitude",
        "geohash_anon AS geohash",
        "insee_code_anon AS insee_code",
        "postal_code_anon AS postal_code",
        "has_email_anon AS has_email",
        "has_phone_anon AS has_phone",
        "has_address_anon AS has_address",
        "has_coordinates_anon AS has_coordinates",
        f"{completeness} AS data_completeness_score",
        f"CASE WHEN {completeness} >= 3 THEN 'Complet'"
        f" WHEN {completeness} = 2 THEN 'Partiel'"
        " ELSE 'Minimal' END AS data_quality_level",
        "last_updated_anon AS last_updated",
        "anonymized_at",
        "current_timestamp() AS mart_created_at",
        "anonymization_version",
        "concat('GDPR Anonymizer v', anonymization_version)"
        " AS processing_pipeline",
        "'Conforme GDPR - Art. 4.5 (Pseudonymisation)' AS legal_status",
        "'Licence Ouverte / Open Licence' AS license",
    ).where(
        "service_name IS NOT NULL AND organization_type IS NOT NULL"
        " AND data_completeness_score >= 1"
    )


# dbt_project.yml:81,95,110 — staging materializes as a view; anonymized/
# enriched/mart as tables. Mirrored here: view layers register a temp view,
# table layers persist (parquet under output_root, or saveAsTable).
MATERIALIZATION = {
    "staging": "view",
    "anonymized": "table",
    "enriched": "table",
    "mart": "table",
}


def run_pipeline(
    raw: DataFrame,
    policy: TablePolicy = SERVICES_POLICY,
    conf: EngineSettings | None = None,
    output_root: str | None = None,
    *,
    use_catalog: bool = False,
    database: str | None = None,
    partition_by: dict[str, list[str]] | None = None,
) -> dict[str, DataFrame]:
    """Run all four layers with reference materialization semantics (S5).

    Returns every layer so callers (tests, validation, reports) can inspect
    intermediates. View layers (staging) register a temp view; table layers
    persist — as parquet under ``output_root``, or into the session catalog
    via ``saveAsTable`` when ``use_catalog`` is set (``database`` maps the
    reference's per-layer ``+schema`` routing). With neither, everything
    stays a lazy DataFrame and Catalyst optimizes across all four layers in
    one plan — the preferred mode when downstream consumers are in-process.
    """
    conf = conf or settings()
    conf.require_safe_salt()
    spark = raw.sparkSession

    def materialize(name: str, df: DataFrame) -> DataFrame:
        """Apply the layer's materialization; returns the DataFrame the NEXT
        stage should build on, so each table layer is computed once and
        downstream stages scan it instead of recomputing the lineage (the
        dbt barrier semantics)."""
        if MATERIALIZATION[name] == "view":
            df.createOrReplaceTempView(name)
            return df
        # partition_by maps layer -> partition columns (e.g. mart by
        # department_code): downstream reads filtered on those columns get
        # partition pruning for free at cluster scale.
        parts = (partition_by or {}).get(name)
        if use_catalog:
            if database:
                spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
            qualified = f"{database}.{name}" if database else name
            w = df.write.mode("overwrite")
            if parts:
                w = w.partitionBy(*parts)
            w.saveAsTable(qualified)
            return spark.table(qualified)
        if output_root:
            path = f"{output_root}/{name}"
            w = df.write.mode("overwrite")
            if parts:
                w = w.partitionBy(*parts)
            w.parquet(path)
            # The written schema is known: pinning it skips the footer-
            # inference job and keeps partition columns at their written
            # type (inference would read department_code '01' back as 1).
            return spark.read.schema(df.schema).parquet(path)
        return df

    # D4 run hooks: each layer's jobs carry a description in the Spark UI /
    # event log (the reference's query-comment + on-run hooks,
    # dbt_project.yml:186-204).
    sc = spark.sparkContext
    layers: dict[str, DataFrame] = {}
    stages = [
        ("staging", lambda: staging(raw)),
        ("anonymized", lambda: anonymize(layers["staging"], policy, conf)),
        ("enriched", lambda: enrich(layers["anonymized"], conf)),
        ("mart", lambda: mart(layers["enriched"], conf)),
    ]
    for name, build in stages:
        sc.setJobDescription(f"gdpr-anonymizer layer={name}")
        layers[name] = materialize(name, build())
    sc.setJobDescription(None)
    return layers
