"""Ingest sources: JSONL read, nested-struct flattening, seeded sampling,
CSV seed round-trip.

Reference: src/dbt_gdpr_anonymizer/scripts/download_data.py:40-148 (HTTP JSONL
fetch → per-line json.loads → pydantic flatten of nested ``geo`` /
``writeAddress`` / ``website[0]`` → pandas → CSV seed) and
dbt_project/dbt_project.yml:125-137 (seed column-type pins: id/email/phone/
postal_code forced varchar to preserve leading zeros).

Spark-first redesign: the driver-side Python parse loop becomes
``spark.read.json`` (JSONL-native, distributed) + one projection of
struct/array accessors — flattening runs on executors inside codegen, and a
malformed line lands in ``_corrupt_record`` instead of killing the job.
"""

from __future__ import annotations

import json
import time
import urllib.request

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "SEED_SCHEMA",
    "fetch_jsonl",
    "fetch_dataset_metadata",
    "select_json_resource",
    "fetch_dataset_resource",
    "read_services_jsonl",
    "flatten_services",
    "deterministic_sample",
    "md5_bucketed_rank",
    "stratified_sample",
    "write_seed_csv",
    "read_seed_csv",
    "write_range_sorted",
]

# dbt_project.yml:125-137 — seed schema with pinned varchar types. Explicit,
# never inferred (a zip code must stay '07500', not 7500).
SEED_SCHEMA = T.StructType(
    [
        T.StructField("service_id", T.StringType(), True),
        T.StructField("service_name", T.StringType(), True),
        T.StructField("parent_organization", T.StringType(), True),
        T.StructField("organization_type", T.StringType(), True),
        T.StructField("contact_email", T.StringType(), True),
        T.StructField("contact_phone", T.StringType(), True),
        T.StructField("website", T.StringType(), True),
        T.StructField("street_address", T.StringType(), True),
        T.StructField("postal_code", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("commune", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("insee_code", T.StringType(), True),
        T.StructField("last_updated", T.StringType(), True),
    ]
)

# The nested shape of the public annuaire JSONL (download_data.py:83-118).
SERVICES_JSON_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("parent_name", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("contact_email", T.StringType(), True),
        T.StructField("contact_phone", T.StringType(), True),
        T.StructField("website", T.ArrayType(T.StringType()), True),
        T.StructField(
            "writeAddress",
            T.StructType(
                [
                    T.StructField("streetAddress", T.StringType(), True),
                    T.StructField("postalCode", T.StringType(), True),
                    T.StructField("addressLocality", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "geo",
            T.StructType(
                [
                    T.StructField("commune", T.StringType(), True),
                    T.StructField("latitude", T.DoubleType(), True),
                    T.StructField("longitude", T.DoubleType(), True),
                    T.StructField("insee_comm", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("update", T.StringType(), True),
    ]
)


def fetch_jsonl(
    url: str, dest_path: str, timeout: int = 30, retries: int = 3
) -> str:
    """Fetch a JSONL resource to a local file with a retry loop
    (download_data.py:40-81). Network-side only — parsing happens in Spark.
    Stdlib urllib: no extra dependency."""
    last: Exception | None = None
    for attempt in range(retries):
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
                body = resp.read()
            with open(dest_path, "wb") as fh:
                fh.write(body)
            return dest_path
        except Exception as exc:  # pragma: no cover - network path
            last = exc
            time.sleep(min(2**attempt, 10))
    raise ConnectionError(f"failed to fetch {url} after {retries} attempts: {last}")


def fetch_dataset_metadata(
    api_url: str, dataset_id: str, timeout: int = 30, retries: int = 3
) -> dict:
    """Fetch dataset metadata JSON from a data.gouv.fr-style API
    (download_data.py:40-56): ``GET {api_url}/datasets/{dataset_id}/`` with
    the same retry loop as the payload fetch."""
    url = f"{api_url.rstrip('/')}/datasets/{dataset_id}/"
    last: Exception | None = None
    for attempt in range(retries):
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
                return json.loads(resp.read().decode("utf-8"))
        except Exception as exc:  # pragma: no cover - network path
            last = exc
            time.sleep(min(2**attempt, 10))
    raise ConnectionError(
        f"failed to fetch metadata {url} after {retries} attempts: {last}"
    )


def select_json_resource(
    dataset_info: dict, preferred_format: str = "json"
) -> str:
    """Pick the download URL of the first resource whose ``format`` matches
    (download_data.py:209-216: the reference takes the first
    ``format == "json"`` resource and aborts when none exists). Raises
    ``LookupError`` listing the available formats so callers can retry with
    another ``preferred_format``."""
    resources = dataset_info.get("resources", []) or []
    hit = next(
        (r for r in resources if r.get("format") == preferred_format), None
    )
    if hit is None or not hit.get("url"):
        formats = sorted({str(r.get("format")) for r in resources})
        raise LookupError(
            f"no '{preferred_format}' resource with a url in dataset "
            f"metadata (available formats: {formats or 'none'})"
        )
    return hit["url"]


def fetch_dataset_resource(
    api_url: str,
    dataset_id: str,
    dest_path: str,
    *,
    preferred_format: str = "json",
    timeout: int = 30,
    retries: int = 3,
) -> str:
    """Full reference download flow (download_data.py:196-246 steps 1-2):
    metadata → resource selection → payload fetch to ``dest_path``.
    Everything downstream (parse, flatten, seed write) is the distributed
    path: ``read_services_jsonl`` → ``flatten_services`` →
    ``write_seed_csv``."""
    info = fetch_dataset_metadata(
        api_url, dataset_id, timeout=timeout, retries=retries
    )
    url = select_json_resource(info, preferred_format)
    return fetch_jsonl(url, dest_path, timeout=timeout, retries=retries)


def read_services_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Distributed JSONL read with the explicit nested schema; malformed
    lines are kept in ``_corrupt_record`` (PERMISSIVE), mirroring the
    reference's skip-and-warn per-record behavior without a driver loop."""
    # StructType.add mutates in place — build a fresh copy per call.
    schema = T.StructType(
        list(SERVICES_JSON_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def flatten_services(raw: DataFrame) -> DataFrame:
    """Nested → flat projection (S2), replacing parse_service
    (download_data.py:83-118): struct field access and ``element_at`` for
    ``website[0]`` — all codegen'd, no Python per row. One parsed
    projection: chained ``F.*`` calls would cost a py4j round trip each."""
    return raw.where("_corrupt_record IS NULL").selectExpr(
        "coalesce(id, '') AS service_id",
        "coalesce(name, '') AS service_name",
        "parent_name AS parent_organization",
        "type AS organization_type",
        "contact_email",
        "contact_phone",
        "CASE WHEN website IS NOT NULL AND size(website) > 0"
        " THEN element_at(website, 1) END AS website",
        "writeAddress.streetAddress AS street_address",
        "writeAddress.postalCode AS postal_code",
        "writeAddress.addressLocality AS city",
        "geo.commune AS commune",
        "geo.latitude AS latitude",
        "geo.longitude AS longitude",
        "geo.insee_comm AS insee_code",
        "`update` AS last_updated",
    )


def deterministic_sample(df: DataFrame, n: int, key: str) -> DataFrame:
    """Exact-n deterministic sample (download_data.py:141-142 uses
    ``pd.sample(random_state=42)``). Distributed equivalent: order by
    ``md5(key)`` — a fixed pseudo-random permutation that is stable across
    partitionings, engines, and runs (``F.rand(seed)`` is none of those) —
    and take the first n. The sort is a top-n (TakeOrdered), not a full
    global sort."""
    return df.orderBy(F.md5(F.col(key).cast("string")), key).limit(n)


def md5_bucketed_rank(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    *,
    out_col: str = "_rk",
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Rank rows within each group by the md5 permutation —
    ``row_number() over (partition by group order by md5(key), key)`` —
    WITHOUT a hot group serializing through one window partition (the
    documented stratified/temperature caveat: one giant source/language
    IS the norm, and its whole population sorted in a single task is a
    100×-scale straggler).

    Because the sort key is md5, sub-buckets need NO quantile pass: the
    first hex byte is uniform by construction, so ``(group, first-byte)``
    windows are ~256-way balanced within every group, and ordering by
    ``(bucket, md5, key)`` equals ordering by ``(md5, key)`` exactly (the
    bucket IS the md5's leading byte). Preceding-bucket offsets come from
    one map-side-combined ``(group, bucket)`` count aggregate — bounded
    by groups × 256, never data volume — windowed over that bounded
    frame and broadcast back. NULL keys hash to NULL and bucket to −1,
    ranking first within their group exactly like the global window's
    NULLS FIRST; NULL GROUP values are ordinary partitions in the window
    formulation, so the offset join is null-safe equality (a plain
    name-list join would silently drop whole NULL strata). Identical
    output to the single-window formulation; two bounded shuffles
    instead of one potentially-hot one.

    ``broadcast_offsets`` keeps the explicit broadcast hint on the
    offset frame — correct for the class-label strata the in-repo
    callers pass (languages, sources, quality buckets: cardinality is
    the label vocabulary, so groups × ≤257 buckets stays driver-safe).
    Pass ``False`` for unbounded group domains (per-URL-domain at crawl
    scale): the hint is dropped and AQE decides broadcast-vs-shuffle
    from the aggregate's RUNTIME size — the row-count check a static
    threshold can't do without an extra pass over the data.
    """
    m = F.md5(F.col(key).cast("string"))
    t = df.withColumn("_m", m).withColumn(
        "_mb",
        F.coalesce(
            F.conv(F.substring(F.col("_m"), 1, 2), 16, 10).cast("int"),
            F.lit(-1),
        ),
    )
    counts = t.groupBy(*group_cols, "_mb").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wo = (
        Window.partitionBy(*group_cols)
        .orderBy("_mb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        *[F.col(c).alias(f"_g{i}") for i, c in enumerate(group_cols)],
        F.col("_mb").alias("_mbo"),
        F.coalesce(F.sum("_c").over(wo), F.lit(0)).alias("_moff"),
    )
    if broadcast_offsets:
        offs = F.broadcast(offs)
    cond = F.col("_mb") == F.col("_mbo")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_g{i}"))
    w = Window.partitionBy(*group_cols, "_mb").orderBy("_m", key)
    return (
        t.join(offs, cond)
        .withColumn(out_col, F.row_number().over(w) + F.col("_moff"))
        .drop(
            "_m",
            "_mb",
            "_mbo",
            "_moff",
            *[f"_g{i}" for i in range(len(group_cols))],
        )
    )


def stratified_sample(
    df: DataFrame, strata: list[str], n_per_stratum: int, key: str
) -> DataFrame:
    """Deterministic exact-n-per-group sample (class-balanced sampling, the
    training-data shape: n docs per language/domain/quality bucket).

    Same md5-permutation trick as :func:`deterministic_sample` but ranked
    WITHIN each stratum — via :func:`md5_bucketed_rank` since r8, so a
    hot stratum spreads over ~256 balanced sub-windows instead of
    serializing in one task (selection identical; the bucket is the md5's
    leading byte, so bucketed order IS md5 order). ``df.sampleBy`` is
    fraction-based and nondeterministic across partitionings; this is
    exact-n and stable across engines and runs. Rows ranked beyond
    ``n_per_stratum`` are pruned before any downstream work.
    """
    return (
        md5_bucketed_rank(df, strata, key)
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def temperature_resample(
    df: DataFrame,
    group_col: str,
    n_target: int,
    *,
    key: str = "doc_id",
    sqrt_temperature: bool = True,
    exact_total: bool = False,
) -> DataFrame:
    """Temperature-based group rebalancing (the mT5/XLM-R α-sampling step):
    draw up to ``n_target`` rows total with per-group quotas ∝ n_g^α,
    flattening the head groups so low-resource languages/domains aren't
    drowned out.

    By default the per-group quotas are floored integer divisions with no
    remainder redistribution (and a quota can exceed a small group's
    size), so the drawn total is systematically ≤ ``n_target`` — by up to
    the group cardinality. ``exact_total=True`` adds a largest-remainder
    top-up computed over the (tiny, group-cardinality) sizes table on the
    driver: capped base quotas, then +1 passes in descending-remainder
    order over groups with spare rows until the total hits
    ``min(n_target, len(df))``. Deterministic (pure integer arithmetic,
    ties broken by group value) but driver-computed, so the registry's
    oracle-checked entry keeps the default.

    α is fixed at 1/2 (``sqrt_temperature=True``, the common choice) or 1
    (plain proportional) because those keep the quota arithmetic EXACT:
    IEEE-754 ``sqrt`` is correctly rounded (unlike ``pow(x, α)``), so
    ``s_g = floor(sqrt(n_g)·2^20)`` is a bit-identical integer in every
    engine, and ``quota_g = n_target·s_g div Σs_g`` is pure integer
    arithmetic. One aggregation for group sizes (tiny — group-cardinality
    rows, broadcast back), one window shuffle for the md5-permutation
    ranks (same deterministic-permutation idiom as
    :func:`stratified_sample`); rank ≤ quota prunes before downstream
    work. The r8 md5-bucketed rank removed the old hot-group caveat: a
    giant group now spreads over ~256 balanced sub-windows (the bucket is
    the md5's leading byte, so selection is unchanged).
    """
    if exact_total:
        sizes = _exact_total_quotas(df, group_col, n_target, sqrt_temperature)
    else:
        alpha_scaled = (
            F.floor(F.sqrt(F.col("_n").cast("double")) * F.lit(float(1 << 20)))
            if sqrt_temperature
            else F.col("_n") * F.lit(1 << 20)
        )
        sizes = (
            df.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .select(group_col, alpha_scaled.cast("long").alias("_s"))
            .withColumn("_tot", F.sum("_s").over(Window.partitionBy()))
            .select(
                group_col,
                F.expr(f"cast({n_target} as bigint) * _s div _tot").alias(
                    "_quota"
                ),
            )
        )
    # md5_bucketed_rank (r8) replaces the per-group window: a hot group
    # no longer serializes in one task (the old docstring caveat); the
    # bucketed rank is identical to the single-window rank because the
    # bucket is the md5's leading byte.
    return (
        md5_bucketed_rank(
            df.join(F.broadcast(sizes), group_col), [group_col], key
        )
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_rk", "_quota")
    )


def _exact_total_quotas(
    df: DataFrame, group_col: str, n_target: int, sqrt_temperature: bool
) -> DataFrame:
    """Largest-remainder quota table summing to min(n_target, len(df)).

    Driver-side on purpose: the sizes table is group-cardinality rows
    (languages/domains — bounded, nothing like data volume), and the
    capped redistribution is an iterative waterfill that SQL can't express
    in one pass. Integer-exact: s_g = isqrt(n_g·2^40) ≡ floor(√n_g·2^20).
    """
    import math

    rows = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n")).collect()
    n = {r[group_col]: int(r["_n"]) for r in rows}
    s = {
        g: (math.isqrt(v << 40) if sqrt_temperature else v << 20)
        for g, v in n.items()
    }
    tot = sum(s.values())
    quota = {g: min(n[g], n_target * s[g] // tot) for g in n}
    want = min(n_target, sum(n.values()))
    # descending fractional remainder, group value breaking ties — one +1
    # per pass over groups with spare rows, until the total lands exactly
    order = sorted(n, key=lambda g: (-(n_target * s[g] % tot), str(g)))
    while sum(quota.values()) < want:
        for g in order:
            if sum(quota.values()) >= want:
                break
            if quota[g] < n[g]:
                quota[g] += 1
    spark = df.sparkSession
    return spark.createDataFrame(
        [(g, q) for g, q in quota.items()], [group_col, "_quota"]
    )


def write_seed_csv(df: DataFrame, path: str) -> None:
    """CSV seed sink (S3): header, UTF-8, minimal quoting — matches the
    pandas ``to_csv`` output shape the reference's dbt seed consumes."""
    df.write.mode("overwrite").option("header", True).option(
        "emptyValue", ""
    ).csv(path)


def read_seed_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV seed scan (S4) with the pinned schema — the dbt
    ``+column_types`` contract (never infer; leading zeros survive)."""
    return (
        spark.read.schema(SEED_SCHEMA)
        .option("header", True)
        .option("emptyValue", "")
        .csv(path)
    )


def make_ci_fixture_jsonl(path: str) -> str:
    """Write the reference CI workflow's 2-row fixture
    (.github/workflows/ci.yml:57-64) in its nested JSONL source shape —
    the golden round-trip input for ingest tests."""
    rows = [
        {
            "id": "TEST001",
            "name": "Service Test 1",
            "parent_name": "Ministère A",
            "type": "ministere",
            "contact_email": "test1@example.fr",
            "contact_phone": "+33 1 23 45 67 89",
            "website": ["https://example.fr"],
            "writeAddress": {
                "streetAddress": "10 rue de Paris",
                "postalCode": "75001",
                "addressLocality": "Paris",
            },
            "geo": {
                "commune": "Paris",
                "latitude": 48.8566,
                "longitude": 2.3522,
                "insee_comm": "75056",
            },
            "update": "2025-01-01",
        },
        {
            "id": "TEST002",
            "name": "Service Test 2",
            "parent_name": "Agence B",
            "type": "etablissement-public",
            "contact_email": "test2@example.fr",
            "contact_phone": "+33 2 98 76 54 32",
            "website": ["https://example2.fr"],
            "writeAddress": {
                "streetAddress": "20 avenue Victor Hugo",
                "postalCode": "69001",
                "addressLocality": "Lyon",
            },
            "geo": {
                "commune": "Lyon",
                "latitude": 45.764,
                "longitude": 4.8357,
                "insee_comm": "69123",
            },
            "update": "2025-01-02",
        },
    ]
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r, ensure_ascii=False) + "\n")
    return path


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    *,
    num_files: int | None = None,
) -> None:
    """Zone-map-friendly parquet write: range-partition on ``sort_cols``
    (disjoint key ranges per output file) then sort within each partition.

    Parquet stores per-row-group min/max statistics; when the file-level
    key ranges are disjoint AND rows are sorted inside each file, a reader
    filtering on ``sort_cols`` skips whole files and row groups instead of
    scanning them — the storage-layout half of predicate pushdown, and the
    layout a 100 TB time-ordered corpus should land in (query patterns
    like "this week's events" then touch days, not the archive).

    ``repartitionByRange`` samples the key distribution, so output files
    are balanced even under skew (unlike hash partitioning on a hot key).
    One shuffle + local sort; ``num_files`` caps output file count
    (default: ``spark.sql.shuffle.partitions``).
    """
    parted = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def priority_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    key: str,
    salt: str = "ps_salt",
) -> DataFrame:
    """Deterministic weight-proportional sample of ``n`` rows — priority
    sampling (Duffield, Lund & Thorup, JACM 2007): each row draws a
    uniform ``u`` and gets priority ``u / w``; the ``n`` smallest
    priorities win, so heavier rows win proportionally more often while
    any fixed sample stays unbiased for subset-sum estimates.

    The uniform is NOT an RNG draw: it is the 52-bit integer from
    ``md5(key ‖ salt)`` (same construction as privacy.uniform52), so the
    sample is reproducible across runs, partitionings, and engines.
    ``u`` is an exact integer and the priority is one IEEE double
    division — bit-identical everywhere. Execution is a distributed
    top-n (TakeOrdered) on the priority, not a global sort.
    """
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.col(key).cast("string"), F.lit(salt))),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    pr = u.cast("double") / F.col(weight_col).cast("double")
    return (
        df.withColumn("_priority", pr)
        .orderBy("_priority", key)
        .limit(n)
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 90,
    salt: str = "split_salt",
) -> DataFrame:
    """Train/eval split that cannot leak duplicates across the boundary:
    the split is assigned per CONTENT FINGERPRINT (md5 of sorted distinct
    words — functions/text.doc_fingerprint), not per row, so byte-different
    copies of the same content always land on the same side (the
    train-on-test contamination a row-hash split produces).

    Assignment is a 52-bit md5 uniform of (fingerprint ‖ salt) compared to
    ``train_pct`` of 2^52 — pure integer compare, reproducible across
    engines/partitionings/runs; changing the salt re-rolls the split.
    Per-row expressions only: no shuffle, no fingerprint table join.
    """
    from dbt_gdpr_anonymizer_spark.functions.text import doc_fingerprint
    from dbt_gdpr_anonymizer_spark.operators.privacy import uniform52

    fp = doc_fingerprint(text_col)
    u = uniform52(F.concat_ws("\x1f", fp, F.lit(salt)))
    cut = (1 << 52) * train_pct // 100
    return df.select(
        id_col,
        fp.alias("fingerprint"),
        F.when(u < F.lit(cut), F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
