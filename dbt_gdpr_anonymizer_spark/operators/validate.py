"""Anonymization validation suite — distributed re-design of the reference's
driver-side checks.

Reference: src/dbt_gdpr_anonymizer/scripts/validate_anonymization.py and
tests/assert_no_pii_in_marts.sql. The reference samples ≤100 distinct values
per column into the driver and regex-matches in Python; here every scan is a
DataFrame filter (``RLIKE``), so matching runs on executors and the driver
only sees counts/samples — the design that survives a 100 TB mart.

Java regex (unlike DuckDB's RE2) supports the reference's negative
lookaheads, so the patterns are reproduced verbatim.

Every check is SQL text, written once below and shared by the fused
``validate()`` counts and the row-level red-path outputs
(``assert_no_pii_in_mart``, ``scan_for_pii``,
``check_anonymization_quality``). An aggregate is then one parsed
projection, not a py4j round trip per ``F.*`` call (about 11 per count),
and the regexes enter the SQL through ``policy._sql_str``, so they read
the same under either ``escapedStringLiterals`` setting.

Scale notes:
  * ``validate()`` runs five Spark jobs at any size: one fused
    aggregation over the mart, one grouped pass over ``enriched``.
  * ``scan_for_pii`` is a single scan: each row is exploded into its
    string cells once, and each cell is tested against every pattern.
  * GPS precision uses a decimal round-trip, not ``x*100 == floor(x*100)``:
    the float product of a correctly-rounded double (e.g. 4.35*100 =
    434.99999999999994) fails the floor test, producing false violations.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.policy import _sql_ident, _sql_str

# validate_anonymization.py:23-35 — PII detection patterns (verbatim).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@(?!anonymized\.gouv\.fr)[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+33\s*[1-9]\s*\d{2}\s*\d{2}\s*\d{2}\s*\d{2}(?!\s*XX)"
ADDRESS_PATTERN = r"(?i)\d+\s+(?:rue|avenue|boulevard|place|impasse)\s+[\w\s]+"

PII_PATTERNS = {
    "non_anonymized_email": EMAIL_PATTERN,
    "unmasked_fr_phone": PHONE_PATTERN,
    "street_address": ADDRESS_PATTERN,
}


def _too_precise(c: str) -> str:
    """SQL: true when coordinate ``c`` carries more than two decimals.

    Decimal round-trip comparison: exact for any double that IS the rounded
    value, immune to the ``x*100 != floor(x*100)`` float fragility (the
    reference's string ``split_part`` check has the same intent).
    """
    return f"{c} != cast(cast({c} as decimal(18,2)) as double)"


def _pii_hit(value_sql: str, pattern: str) -> str:
    """SQL: true when ``value_sql`` matches the PII regex ``pattern``."""
    return f"{value_sql} RLIKE {_sql_str(pattern)}"


# assert_no_pii_in_marts.sql:18-58 — the three singular tests:
# (name, violation condition, reported column, reported value, issue).
_MART_CHECKS = (
    (
        "email",
        "contact_email IS NOT NULL"
        " AND NOT contact_email LIKE '%@anonymized.gouv.fr'",
        "contact_email",
        "contact_email",
        "Non-anonymized email detected",
    ),
    (
        "phone",
        "contact_phone IS NOT NULL AND NOT contact_phone LIKE '%XX%'",
        "contact_phone",
        "contact_phone",
        "Non-masked phone number detected",
    ),
    (
        "gps",
        "latitude IS NOT NULL AND longitude IS NOT NULL AND ("
        f"{_too_precise('latitude')} OR {_too_precise('longitude')})",
        "latitude/longitude",
        "concat_ws(', ', cast(latitude as string), cast(longitude as string))",
        "GPS coordinates too precise",
    ),
)

# validate_anonymization.py:154-211 — the quality metrics' row conditions.
# ``bad`` counts are derived as total - ok so the two can never disagree.
_QUALITY_CONDITIONS = {
    "email_total": "contact_email_anon IS NOT NULL",
    "email_ok": "contact_email_anon LIKE '%@anonymized.gouv.fr'",
    "phone_total": "contact_phone_anon IS NOT NULL",
    "phone_ok": "contact_phone_anon LIKE '%XX XX XX XX'",
    "coord_total": "latitude_anon IS NOT NULL AND longitude_anon IS NOT NULL",
    "coord_ok": "latitude_anon IS NOT NULL AND longitude_anon IS NOT NULL"
    f" AND NOT ({_too_precise('latitude_anon')})"
    f" AND NOT ({_too_precise('longitude_anon')})",
}


def assert_no_pii_in_mart(mart: DataFrame) -> DataFrame:
    """The singular end-to-end PII test (assert_no_pii_in_marts.sql:18-70).

    Returns the violations DataFrame (empty == pass): un-anonymized emails,
    unmasked phones, and >2-decimal GPS coordinates, UNION ALL'd with the
    reference's 4-column shape.
    """
    parts = [
        mart.where(cond).selectExpr(
            "'mart_services_open_data' AS table_name",
            f"{_sql_str(column)} AS column_name",
            f"{value} AS value",
            f"{_sql_str(issue)} AS issue_type",
        )
        for _, cond, column, value, issue in _MART_CHECKS
    ]
    return reduce(DataFrame.unionByName, parts)


def scan_for_pii(
    df: DataFrame,
    table_name: str = "table",
    patterns: dict[str, str] = PII_PATTERNS,
    sample_per_column: int = 100,
) -> DataFrame:
    """Regex PII scan over every string column — ONE scan of the table.

    Each row is exploded into its (column, value) string cells, and each
    non-NULL cell into the issues whose pattern it matches. The table is
    read once; the reference reads it once per column
    (validate_anonymization.py:96-134). Every pattern is a literal in the
    plan, so each regex compiles once per task.

    ``sample_per_column`` caps output rows per (column, issue) via a window
    over the (tiny) post-filter match set.
    """
    string_cols = [
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    ]
    if not string_cols:
        raise ValueError("no string columns to scan")

    cells = ", ".join(
        f"named_struct('column_name', {_sql_str(c)}, 'value', {_sql_ident(c)})"
        for c in string_cols
    )
    issues = ", ".join(
        f"CASE WHEN {_pii_hit('value', pat)} THEN {_sql_str(issue)} END"
        for issue, pat in patterns.items()
    )
    matches = (
        df.selectExpr(f"inline(array({cells}))")
        .where("value IS NOT NULL")
        .selectExpr(
            f"{_sql_str(table_name)} AS table_name",
            "column_name",
            "value",
            f"explode(array({issues})) AS issue_type",
        )
        .where("issue_type IS NOT NULL")
    )
    w = Window.partitionBy("column_name", "issue_type").orderBy("value")
    return (
        matches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= sample_per_column)
        .drop("_rn")
    )


@dataclass
class QualityMetrics:
    emails: dict
    phones: dict
    coordinates: dict


def _metrics_from_row(row) -> QualityMetrics:
    def rate(ok: int, total: int) -> float:
        return (ok / total * 100) if total else 0.0

    return QualityMetrics(
        emails={
            "total": row["email_total"],
            "properly_anonymized": row["email_ok"],
            "improperly_anonymized": row["email_total"] - row["email_ok"],
            "success_rate": rate(row["email_ok"], row["email_total"]),
        },
        phones={
            "total": row["phone_total"],
            "properly_masked": row["phone_ok"],
            "improperly_masked": row["phone_total"] - row["phone_ok"],
            "success_rate": rate(row["phone_ok"], row["phone_total"]),
        },
        coordinates={
            "total": row["coord_total"],
            "properly_rounded": row["coord_ok"],
            "success_rate": rate(row["coord_ok"], row["coord_total"]),
        },
    )


def check_anonymization_quality(enriched: DataFrame) -> QualityMetrics:
    """Conditional-aggregate quality metrics in one pass (the reference runs
    three separate queries)."""
    row = enriched.selectExpr(
        *[f"count_if({c}) AS {n}" for n, c in _QUALITY_CONDITIONS.items()]
    ).collect()[0]
    return _metrics_from_row(row)


def k_anonymity_violations(
    df: DataFrame, quasi_identifiers: Sequence[str], k: int = 5
) -> DataFrame:
    """Groups smaller than ``k`` over the quasi-identifier set
    (validate_anonymization.py:229-243). Map-side partial aggregation makes
    this a single shuffle on the QI key at any scale."""
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < k)
        .orderBy(F.col("group_size").asc())
    )


def validate(
    enriched: DataFrame,
    mart: DataFrame,
    quasi_identifiers: Sequence[str] = ("organization_category",),
    k: int = 5,
) -> dict:
    """Full validation run (validate_anonymization.py:311-374).

    Exactly five Spark jobs under AQE, regardless of table size:
      1-2. one fused aggregation over ``mart`` (shuffle stage + result) —
           the three singular-test violation counts AND every (string
           column × pattern) regex-scan hit count in a single pass;
      3-5. one grouped pass over ``enriched`` (group-by stage, roll-up
           stage, result): a group-by on the quasi-identifiers carrying
           the quality metrics' partial counts, then a roll-up that sums
           them and counts the groups with fewer than ``k`` rows.

    Returns a report dict; callers wanting the violating ROWS use
    ``assert_no_pii_in_mart`` / ``scan_for_pii`` directly, and
    ``run_validation_gate`` persists them + sets the exit code.
    """
    string_cols = [
        f.name for f in mart.schema.fields if f.dataType.simpleString() == "string"
    ]
    # count_if is a count: 0, never NULL, over an empty mart.
    aggs = [f"count_if({cond}) AS viol_{name}" for name, cond, *_ in _MART_CHECKS]
    for col in string_cols:
        for issue, pat in PII_PATTERNS.items():
            aggs.append(
                f"count_if({_pii_hit(_sql_ident(col), pat)})"
                f" AS {_sql_ident(f'scan__{col}__{issue}')}"
            )
    mrow = mart.selectExpr(*aggs).collect()[0]
    n_pii = mrow["viol_email"] + mrow["viol_phone"] + mrow["viol_gps"]
    scan_hits = {
        k_: v for k_, v in mrow.asDict().items() if k_.startswith("scan__") and v
    }
    n_scan = sum(scan_hits.values())

    groups = enriched.groupBy(*quasi_identifiers).agg(
        *[F.expr(f"count_if({c}) AS {n}") for n, c in _QUALITY_CONDITIONS.items()],
        F.expr("count(1) AS group_size"),
    )
    # sum over zero groups is NULL — coalesce so an empty table yields
    # zero counts rather than None arithmetic.
    erow = groups.selectExpr(
        *[f"coalesce(sum({n}), 0) AS {n}" for n in _QUALITY_CONDITIONS],
        f"count_if(group_size < {int(k)}) AS k_violations",
    ).collect()[0]
    metrics = _metrics_from_row(erow)
    n_kviol = erow["k_violations"]
    return {
        "pii_violations": int(n_pii),
        "pii_scan_hits": int(n_scan),
        "pii_scan_detail": {k_: int(v) for k_, v in scan_hits.items()},
        "quality": {
            "emails": metrics.emails,
            "phones": metrics.phones,
            "coordinates": metrics.coordinates,
        },
        "k_anonymity_ok": n_kviol == 0,
        "k_anonymity_violating_groups": n_kviol,
        "passed": n_pii == 0 and n_scan == 0 and n_kviol == 0,
    }


def run_validation_gate(
    enriched: DataFrame,
    mart: DataFrame,
    quasi_identifiers: Sequence[str] = ("organization_category",),
    k: int = 5,
    failures_root: str | None = None,
) -> int:
    """CLI-style validation gate (D5): persist failing rows, return exit code.

    Reference: ``+store_failures: true`` routes failing test rows to the
    ``test_results`` schema (dbt_project.yml:144-154) and
    validate_anonymization.py:353-374 exits 1 on any violation. With
    ``failures_root`` set, violating rows (singular-test + k-anonymity
    groups) are written as parquet under ``{failures_root}/<check>``; rows
    are only computed when the fused ``validate()`` counts say they exist,
    so the green path is ``validate()``'s five jobs and nothing more.
    """
    report = validate(enriched, mart, quasi_identifiers, k)
    if failures_root:
        if report["pii_violations"] or report["pii_scan_hits"]:
            assert_no_pii_in_mart(mart).write.mode("overwrite").parquet(
                f"{failures_root}/assert_no_pii_in_mart"
            )
            scan_for_pii(mart, "mart_services_open_data").write.mode(
                "overwrite"
            ).parquet(f"{failures_root}/pii_scan")
        if report["k_anonymity_violating_groups"]:
            k_anonymity_violations(
                enriched, list(quasi_identifiers), k
            ).write.mode("overwrite").parquet(f"{failures_root}/k_anonymity")
    return 0 if report["passed"] else 1


@dataclass(frozen=True)
class ColumnTest:
    """One declarative schema test, the dbt generic-test vocabulary
    (models/staging/schema.yml): ``unique`` / ``not_null`` /
    ``accepted_values`` / ``accepted_range`` / ``relationships``.
    ``where`` optionally scopes any test to a row predicate (the
    reference's conditional ``not_null … where: "has_email = 1"``,
    schema.yml:67-68)."""

    column: str
    test: str
    values: tuple | None = None          # accepted_values
    lo: float | None = None              # accepted_range
    hi: float | None = None
    to_table: str | None = None          # relationships
    to_field: str | None = None
    where: str | None = None


def generic_schema_tests(
    tables: dict[str, DataFrame],
    tests: dict[str, Sequence[ColumnTest]],
) -> DataFrame:
    """Declarative schema-test runner — the ``dbt test`` counterpart for
    the generic tests the reference declares per column
    (schema.yml:36-195). Returns one row per test:
    ``(table_name, column_name, test_name, n_violations)``; the gate is
    "every n_violations == 0", and failing-row persistence composes via
    :func:`run_validation_gate`'s store_failures pattern.

    Scale shape — tests are FUSED, not run one-by-one:

    * all row-local tests on a table (not_null / accepted_values /
      accepted_range, with optional ``where`` scopes) collapse into ONE
      conditional-count aggregate pass — a table with 12 declared tests
      still scans once;
    * each ``unique`` test is one groupBy on its key counting duplicated
      values (map-side partial; dbt semantics: the violation count is
      the number of DISTINCT duplicated values);
    * each ``relationships`` test is a left-anti join against the parent
      key set — parent keys are distinct-reduced first and Spark/AQE
      broadcasts a dimension-sized parent automatically.

    The per-test outputs are 1-row aggregates unioned driver-side —
    bounded by test count, never by data volume.
    """
    results: list[DataFrame] = []
    for tname, tlist in tests.items():
        if tname not in tables:
            raise ValueError(
                f"generic_schema_tests: tests reference unknown table "
                f"{tname!r}; known tables: {sorted(tables)}"
            )
        df = tables[tname]
        rowlocal = [t for t in tlist if t.test in (
            "not_null", "accepted_values", "accepted_range")]
        if rowlocal:
            aggs = []
            for i, t in enumerate(rowlocal):
                c = F.col(t.column)
                if t.test == "not_null":
                    bad = c.isNull()
                elif t.test == "accepted_values":
                    # dbt semantics: NULL is not a violation here (that's
                    # not_null's job) — SQL NOT IN returns NULL for NULL
                    bad = c.isNotNull() & ~c.isin(list(t.values))
                else:
                    bad = (c < t.lo) | (c > t.hi)
                if t.where:
                    bad = bad & F.expr(t.where)
                aggs.append(
                    F.sum(F.when(bad, 1).otherwise(0)).cast("long")
                    .alias(f"_t{i}")
                )
            row = df.agg(*aggs)
            longs = [
                F.struct(
                    F.lit(tname).alias("table_name"),
                    F.lit(t.column).alias("column_name"),
                    F.lit(t.test).alias("test_name"),
                    F.col(f"_t{i}").alias("n_violations"),
                )
                for i, t in enumerate(rowlocal)
            ]
            results.append(
                row.select(F.explode(F.array(*longs)).alias("r")).select("r.*")
            )
        for t in tlist:
            if t.test == "unique":
                dup = (
                    df.filter(F.col(t.column).isNotNull())
                    .groupBy(t.column)
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .filter(F.col("_n") > 1)
                    .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
                )
                results.append(
                    dup.select(
                        F.lit(tname).alias("table_name"),
                        F.lit(t.column).alias("column_name"),
                        F.lit("unique").alias("test_name"),
                        "n_violations",
                    )
                )
            elif t.test == "relationships":
                if t.to_table not in tables:
                    raise ValueError(
                        f"generic_schema_tests: relationships test on "
                        f"{tname}.{t.column} references unknown parent "
                        f"table {t.to_table!r}; known tables: "
                        f"{sorted(tables)}"
                    )
                parent = (
                    tables[t.to_table]
                    .select(F.col(t.to_field).alias("_pk"))
                    .distinct()
                )
                orphan = (
                    df.filter(F.col(t.column).isNotNull())
                    .join(
                        parent,
                        F.col(t.column) == F.col("_pk"),
                        "left_anti",
                    )
                    .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
                )
                results.append(
                    orphan.select(
                        F.lit(tname).alias("table_name"),
                        F.lit(t.column).alias("column_name"),
                        F.lit("relationships").alias("test_name"),
                        "n_violations",
                    )
                )
    if not results:
        # Empty spec (or only unrecognized test names): return an EMPTY
        # report with the contract schema rather than IndexError — callers
        # treat "no tests declared" as vacuously passing.
        if not tables:
            raise ValueError(
                "generic_schema_tests: no tables provided and no tests "
                "produced a result"
            )
        spark = next(iter(tables.values())).sparkSession
        return spark.createDataFrame(
            [],
            "table_name string, column_name string, "
            "test_name string, n_violations long",
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.orderBy("table_name", "column_name", "test_name")


def canary_leak_audit(
    raw: DataFrame,
    anonymized: DataFrame,
    canaries: Sequence[str],
    *,
    text_col: str = "text",
) -> DataFrame:
    """X126 plant-and-verify CANARY audit — the "secret sharer"
    extraction check (Carlini et al. 2019) applied at the
    corpus-anonymization gate: count the documents containing each
    planted canary BEFORE and AFTER the anonymization pass. A scrub/
    erasure/masking pipeline is only trusted when every canary's
    post-pass count is zero; a nonzero ``leaked`` row is the audit
    evidence that a redaction regex or term list has a hole.

    The canary list is bounded audit state (tens of literals), so each
    table is scanned ONCE with one sum-of-contains aggregate per canary
    (codegen conditions, no join, no shuffle beyond the 1-row partial
    agg); only the 2·m counts cross the driver. Returns
    ``(canary, n_raw, n_anonymized, leaked)``.
    """
    spark = raw.sparkSession
    canaries = list(canaries)
    if not canaries:  # nothing planted -> empty audit, not an agg error
        return spark.createDataFrame(
            [],
            "canary string, n_raw bigint, n_anonymized bigint, "
            "leaked boolean",
        )

    def counts(df: DataFrame) -> list[int]:
        row = df.agg(
            *[
                F.sum(
                    F.col(text_col).contains(F.lit(c)).cast("long")
                ).alias(f"_c{i}")
                for i, c in enumerate(canaries)
            ]
        ).collect()[0]
        return [int(row[f"_c{i}"] or 0) for i in range(len(canaries))]

    n_raw = counts(raw)
    n_anon = counts(anonymized)
    return spark.createDataFrame(
        [
            (c, r, a, a > 0)
            for c, r, a in zip(canaries, n_raw, n_anon)
        ],
        "canary string, n_raw bigint, n_anonymized bigint, leaked boolean",
    )


def fd_conformance(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
) -> DataFrame:
    """Functional-dependency conformance report: does ``lhs_cols →
    rhs_col`` hold, and how badly not — the schema-level data-quality
    check (Codd FDs; the profiling primitive behind tools like
    Deequ's uniqueness/consistency constraints) a pipeline runs before
    trusting a column as a join key or a generalization target.

    A left-hand-side group VIOLATES the FD when it maps to more than
    one distinct non-NULL ``rhs_col`` value (NULL rhs values are
    ignored — SQL distinct-aggregate convention, documented). Released
    as ONE summary row, all exact integers:
    ``(n_groups, n_violating, n_rows_violating, conformance_ppm)``
    with ``conformance_ppm = 1e6·(n_groups − n_violating) div
    n_groups`` (NULL when the frame is empty).

    Scale shape: one distinct-aggregate groupBy over the lhs key
    (map-side partial on (lhs, rhs) distinct), one 1-row rollup — no
    window, no join, no second corpus pass.
    """
    g = df.groupBy(*[F.col(c) for c in lhs_cols]).agg(
        F.countDistinct(F.col(rhs_col)).alias("_nd"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    viol = F.when(F.col("_nd") > 1, 1).otherwise(0)
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(viol).cast("long").alias("n_violating"),
        F.sum(F.when(F.col("_nd") > 1, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_rows_violating"),
    ).select(
        "n_groups",
        "n_violating",
        "n_rows_violating",
        F.when(
            F.col("n_groups") > 0,
            F.expr(
                "(n_groups - n_violating) * 1000000 div n_groups"
            ),
        )
        .cast("long")
        .alias("conformance_ppm"),
    )
