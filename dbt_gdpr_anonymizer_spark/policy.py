"""The metadata control plane: column-level privacy policy + model rewriter.

The reference declares policy as YAML ``meta:`` on dbt model columns
(models/staging/schema.yml:57-154) and expands it at Jinja compile time
(macros/privacy/mask_model.sql, macros/privacy/mask_columns.sql). Here the
policy is a plain data object applied at DataFrame-construction time — same
effect (one SELECT applying the right masking expression per column), but as
a runtime ``DataFrame -> DataFrame`` function: no codegen step, and Catalyst
still sees one flat projection it can optimize through.

Anonymization-method registry (mask_columns.sql:1-30 dispatcher):
    mask_partial     -> partial phone masking
    hash_sha256      -> salted-hash email pseudonymization
    round_2_decimals -> coordinate precision reduction
    suppress         -> NULL
    aggregate_to_city-> reference declares it (schema.yml:98) but has NO
                        dispatcher branch, so the column silently passes
                        through. We implement it for real; pass
                        ``compat_aggregate_to_city_passthrough=True`` to
                        reproduce the reference's leak-by-omission.
    (anything else)  -> pass-through
Every output column is renamed ``{col}_anon`` (including pass-throughs).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.config import EngineSettings, settings
from dbt_gdpr_anonymizer_spark.functions import masking


@dataclass(frozen=True)
class ColumnPolicy:
    """Per-column privacy metadata (schema.yml:57-64 field set)."""

    pii: bool = False
    pii_type: str | None = None  # direct_identifier | quasi_identifier | ...
    anonymization_method: str | None = None
    legal_basis: str | None = None
    retention_days: int | None = None
    k_anonymity_target: int | None = None
    data_owner: str | None = None


@dataclass
class TablePolicy:
    """Policy for one model: column name -> ColumnPolicy."""

    name: str
    columns: dict[str, ColumnPolicy] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, name: str, raw: dict) -> "TablePolicy":
        cols = {
            col: ColumnPolicy(**{k: v for k, v in meta.items()})
            for col, meta in raw.items()
        }
        return cls(name=name, columns=cols)

    def pii_columns(self) -> dict[str, ColumnPolicy]:
        return {c: p for c, p in self.columns.items() if p.pii}


_COLUMN_POLICY_FIELDS = {
    "pii",
    "pii_type",
    "anonymization_method",
    "legal_basis",
    "retention_days",
    "k_anonymity_target",
    "data_owner",
}


def policies_from_schema_yaml(text: str) -> dict[str, "TablePolicy"]:
    """Parse the reference's dbt ``schema.yml`` shape into TablePolicy
    objects — the same metadata control plane, read at runtime instead of
    Jinja compile time.

    Expected shape (models/staging/schema.yml:49-64): ``models`` is a list
    of ``{name, columns: [{name, meta: {pii, pii_type,
    anonymization_method, ...}}]}``. Unknown meta keys are ignored (dbt
    allows arbitrary metadata); columns without ``meta`` get the default
    (non-PII) policy so the masking rewriter passes them through.
    """
    import yaml

    doc = yaml.safe_load(text) or {}
    out: dict[str, TablePolicy] = {}
    for model in doc.get("models", []) or []:
        cols: dict[str, ColumnPolicy] = {}
        for col in model.get("columns", []) or []:
            meta = col.get("meta") or {}
            kwargs = {
                k: v for k, v in meta.items() if k in _COLUMN_POLICY_FIELDS
            }
            cols[col["name"]] = ColumnPolicy(**kwargs)
        out[model["name"]] = TablePolicy(name=model["name"], columns=cols)
    return out


class PolicyError(ValueError):
    """Raised when a policy fails validation (reference: raise_compiler_error,
    generate_pii_report.sql:147-176)."""


def validate_policy(policy: TablePolicy) -> None:
    """Fail fast if any PII column lacks an anonymization method (D1)."""
    missing = [
        c
        for c, p in policy.columns.items()
        if p.pii and not p.anonymization_method
    ]
    if missing:
        raise PolicyError(
            f"PII columns without anonymization_method in '{policy.name}': "
            f"{sorted(missing)}"
        )


def _sql_str(s: str) -> str:
    """Render a Python string as a Spark SQL expression that evaluates to
    exactly ``s`` under either ``spark.sql.parser.escapedStringLiterals``
    setting.

    That setting decides whether backslash escapes in a quoted literal
    are live, so no escaped form of ``\\`` or ``'`` reads the same under
    both (a doubled-backslash regex matches nothing once escapes are off).
    A string holding either character is therefore spelled as its UTF-8
    bytes in hex, ``decode(unhex('<hex>'), 'UTF-8')``, which the
    optimizer folds back to one literal. Any other string is a plain
    quoted literal."""
    if "\\" in s or "'" in s:
        return f"decode(unhex('{s.encode('utf-8').hex()}'), 'UTF-8')"
    return f"'{s}'"


def _sql_ident(name: str) -> str:
    """Backtick-quote a column name for Spark SQL."""
    return "`" + name.replace("`", "``") + "`"


# r12 (py4j plan-build floor, measured r9-r11: mask_model's per-column
# Column chains cost ~0.16 s of driver socket chatter per mart_pipeline
# build, scale-invariant): the four reference methods' expressions are
# built as ONE parsed ``F.expr`` each instead of 8-12 chained F.* calls.
# Each template is the EXACT SQL form of the previous Column chain — the
# same null/empty guard (CASE with no ELSE releases the same typed NULL
# the old .otherwise(lit(None)) did), the same decimal-cast rounding,
# the same sha2/substring shapes — verified hash-identical on every
# consumer query at 3 SFs. Methods outside the hot path (generalize,
# fpe_digits HOF, the FF1 UDF) keep their Column builders. Registry
# functions take the column NAME (the F.expr templates need the
# identifier, not a Column object).
def _method_registry(
    conf: EngineSettings, city_column: str | None
) -> dict[str, Callable[[str], Column]]:
    def guarded(col_sql: str, masked_sql: str) -> Column:
        return F.expr(
            f"CASE WHEN {col_sql} IS NOT NULL AND {col_sql} != '' "
            f"THEN {masked_sql} END"
        )

    def mask_partial(c: str) -> Column:
        cs = _sql_ident(c)
        return guarded(
            cs, f"concat(substring(trim({cs}), 1, 6), ' XX XX XX XX')"
        )

    def hash_sha256(c: str) -> Column:
        cs = _sql_ident(c)
        salt = _sql_str(conf.salt_key)
        from dbt_gdpr_anonymizer_spark.config import ANON_EMAIL_DOMAIN

        dom = _sql_str("@" + ANON_EMAIL_DOMAIN)
        return guarded(
            cs,
            "concat('user_', substring(sha2(concat(lower(trim("
            f"{cs})), {salt}), 256), 1, 16), {dom})",
        )

    def round_dec(c: str) -> Column:
        cs = _sql_ident(c)
        p = int(conf.gps_precision)
        return F.expr(
            f"cast(cast(cast({cs} as double) as decimal(18,{p})) as double)"
        )

    return {
        "mask_partial": lambda c: mask_partial(c),
        "hash_sha256": lambda c: hash_sha256(c),
        "round_2_decimals": lambda c: round_dec(c),
        "suppress": lambda c: F.expr("cast(null as string)"),
        "aggregate_to_city": lambda c: (
            F.col(city_column) if city_column else F.lit(None).cast("string")
        ),
        # extension beyond the reference's four methods: temporal
        # generalization (precision reduction for dates, the counterpart
        # of round_2_decimals for coordinates)
        "generalize_to_month": lambda c: masking.generalize_date(
            F.col(c), "month"
        ),
        # extension: format-preserving digit pseudonymization (the FPE
        # method class — masked output inhabits the input format)
        "fpe_digits": lambda c: masking.fpe_digits(F.col(c), conf.salt_key),
        # extension: real NIST SP 800-38G FF1 (functions/fpe.py — AES-128
        # Feistel, NIST-vector-validated) behind the same format contract;
        # Arrow-batched pandas UDF, the documented slow-path tier. Key is
        # derived from the configured salt (md5 → 16 bytes).
        "fpe_ff1": _ff1_method(conf),
    }


def _ff1_method(conf: EngineSettings) -> Callable[[Column], Column]:
    import hashlib

    from dbt_gdpr_anonymizer_spark.functions.fpe import ff1_digits_udf

    udf = ff1_digits_udf(hashlib.md5(conf.salt_key.encode()).hexdigest())
    return lambda c: udf(F.col(c))


def mask_column(
    name: str,
    policy: ColumnPolicy | None,
    conf: EngineSettings,
    *,
    city_column: str | None = None,
    compat_aggregate_to_city_passthrough: bool = False,
    registry: dict[str, Callable[[str], Column]] | None = None,
) -> Column:
    """Dispatch one column through its anonymization method (M6).

    Unknown/missing methods pass through; every result is aliased
    ``{name}_anon`` exactly like the reference dispatcher. ``registry``
    lets a model-level caller build the method registry ONCE instead of
    per column (r12: each registry build constructs the FF1 pandas UDF —
    measured as the dominant per-column dispatch cost).
    """
    method = policy.anonymization_method if policy else None
    if method == "aggregate_to_city" and compat_aggregate_to_city_passthrough:
        method = None  # reference behavior: no branch -> pass-through
    if registry is None:
        registry = _method_registry(conf, city_column)
    fn = registry.get(method or "")
    out = fn(name) if fn else F.col(name)
    return out.alias(f"{name}_anon")


def mask_model(
    df: DataFrame,
    policy: TablePolicy,
    conf: EngineSettings | None = None,
    *,
    city_column: str | None = "city",
    compat_aggregate_to_city_passthrough: bool = False,
    validate: bool = True,
) -> DataFrame:
    """Model-level rewriter (M7): one projection masking every column.

    Column set and order come from the physical DataFrame (``df.columns``),
    mirroring the reference's ``adapter.get_columns_in_relation`` — columns
    absent from the policy still flow through (renamed ``_anon``).
    """
    conf = conf or settings()
    if validate:
        validate_policy(policy)
    city = city_column if city_column in df.columns else None
    registry = _method_registry(conf, city)  # once, not per column (r12)
    return df.select(
        [
            mask_column(
                name,
                policy.columns.get(name),
                conf,
                city_column=city,
                compat_aggregate_to_city_passthrough=compat_aggregate_to_city_passthrough,
                registry=registry,
            )
            for name in df.columns
        ]
    )


# The reference's canonical staging policy (schema.yml:49-154), reusable in
# tests and as documentation of the expected shape.
SERVICES_POLICY = TablePolicy(
    name="stg_services_publics",
    columns={
        "contact_email": ColumnPolicy(
            pii=True,
            pii_type="direct_identifier",
            anonymization_method="hash_sha256",
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
        "contact_phone": ColumnPolicy(
            pii=True,
            pii_type="direct_identifier",
            anonymization_method="mask_partial",
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
        "street_address": ColumnPolicy(
            pii=True,
            pii_type="quasi_identifier",
            anonymization_method="aggregate_to_city",
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
        "latitude": ColumnPolicy(
            pii=True,
            pii_type="quasi_identifier",
            anonymization_method="round_2_decimals",
            k_anonymity_target=5,
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
        "longitude": ColumnPolicy(
            pii=True,
            pii_type="quasi_identifier",
            anonymization_method="round_2_decimals",
            k_anonymity_target=5,
            legal_basis="GDPR Art. 6.1.e",
            retention_days=730,
            data_owner="DPO",
        ),
    },
)
