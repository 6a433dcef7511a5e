"""Deterministic benchmark inputs, made from one integer seed.

Three generators, each writing only under the directory it is given:

* ``write_bulk_csv``: the ``services_publics_raw`` CSV seed (FIXTURES.md §1)
  as one file.
* ``write_deltas``: the nested annuaire JSONL deltas. Every third delta is
  planted with free-text PII in ``service_name``, one
  ``organization_category`` below k and a few malformed lines.
* ``write_corpus``: ``documents`` and ``events`` parquet tables in the shape
  of the registry's test tables (TESTDATA.md).

Each returns the truth the output checks compare against. The generators
share no code with the program under test, so the truth is independent of
it.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import json
import os
import random
import re
from collections import Counter

# The gate's PII patterns (operators/validate.py), used here only to prove
# that clean generated values never match them.
EMAIL_RE = re.compile(
    r"[A-Za-z0-9._%+-]+@(?!anonymized\.gouv\.fr)[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
)
PHONE_RE = re.compile(r"\+33\s*[1-9]\s*\d{2}\s*\d{2}\s*\d{2}\s*\d{2}(?!\s*XX)")
ADDRESS_RE = re.compile(
    r"(?i)\d+\s+(?:rue|avenue|boulevard|place|impasse)\s+[\w\s]+"
)

K = 5
# The only organization_type that enriches to the "diplomatie" category.
# ORG_TYPES leaves it out; planted deltas add UNDER_K_ROWS of it.
UNDER_K_TYPE = "ambassade-ou-mission-diplomatique"
UNDER_K_CATEGORY = "diplomatie"
UNDER_K_ROWS = 3
PLANTED_EMAIL_ROWS = 3
PLANTED_ADDRESS_ROWS = 2
MALFORMED_LINES = 4
# Mart rows whose salted email hash is recomputed with hashlib.
EMAIL_SAMPLE = 100

ORG_TYPES = [
    "administration-centrale-ou-ministere",
    "cabinet-ministeriel",
    "service-a-competence-nationale",
    "secretaire-d-etat",
    "service-deconcentre",
    "autorite-publique-independante",
    "autorite-administrative-independante",
    "etablissement-public",
    "groupement-d-interet-public",
    "etablissement-d-enseignement",
    "institution-europeenne",
    "institution",
    "conseil-comite-commission-organisme-consultatif",
    "ministere",
    "service-central",
    "mairie",
    "caisse-locale",
]
# organization_type -> organization_category, restated from the reference
# model (int_services_enriched.sql); anything else, NULL too, is "autres".
CATEGORY = {
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
    UNDER_K_TYPE: UNDER_K_CATEGORY,
    "institution-europeenne": "institutions",
    "institution": "institutions",
    "conseil-comite-commission-organisme-consultatif": "instances_consultatives",
}
FIRST = "jean marie pierre sophie luc claire paul anne louis julie marc emma".split()
LAST = "martin bernard dubois thomas robert richard petit durand leroy moreau".split()
MAIL_DOMAINS = ["interieur.gouv.fr", "example.fr", "culture.fr", "mairie.fr"]
STREET_KINDS = ["rue", "avenue", "boulevard", "place", "impasse"]
STREET_NAMES = "de Paris|Victor Hugo|des Lilas|Jean Jaures|du Port|de la Gare".split("|")
NAME_WORDS = "accueil bureau centre direction agence pole mission cellule".split()
NAME_TOPICS = "emploi sante culture fiscal jeunesse social transport".split()
ORGS = [f"Organisation {w} {t}" for w in NAME_WORDS[:5] for t in NAME_TOPICS[:5]]
ORGS += [f"Ministere {t}" for t in NAME_TOPICS] + ["Agence nationale"]
# (city, department): the first 12 departments feed the mart's region map.
CITIES = [
    ("Paris", "75"), ("Versailles", "78"), ("Evry", "91"), ("Lille", "59"),
    ("Arras", "62"), ("Lyon", "69"), ("Marseille", "13"), ("Toulon", "83"),
    ("Bordeaux", "33"), ("Toulouse", "31"), ("Albi", "81"), ("Nice", "06"),
    ("Rennes", "35"), ("Nantes", "44"), ("Strasbourg", "67"), ("Dijon", "21"),
]

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [41, 15, 15, 15, 14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _rng(seed: int, part: str) -> random.Random:
    # str seeds hash with SHA-512 inside random, stable across processes.
    return random.Random(f"{seed}:{part}")


def _service(rng: random.Random, sid: str) -> dict:
    """One flat service row; None marks a missing value."""
    first, last = rng.choice(FIRST), rng.choice(LAST)
    city, dept = rng.choice(CITIES)
    has_geo = rng.random() < 0.8
    return {
        "service_id": sid,
        "service_name": (
            f"{rng.choice(NAME_WORDS).title()} {rng.choice(NAME_TOPICS)} "
            f"{city} {rng.randint(1, 99)}"
        ),
        "parent_organization": rng.choice(ORGS) if rng.random() < 0.95 else None,
        "organization_type": rng.choice(ORG_TYPES) if rng.random() < 0.98 else None,
        "contact_email": (
            f"{first}.{last}{rng.randint(1, 99999)}@{rng.choice(MAIL_DOMAINS)}"
            if rng.random() < 0.7
            else None
        ),
        "contact_phone": (
            rng.choice(["+33 {} {:02d} {:02d} {:02d} {:02d}", "0{} {:02d} {:02d} {:02d} {:02d}"]).format(
                rng.randint(1, 9), *(rng.randint(0, 99) for _ in range(4))
            )
            if rng.random() < 0.6
            else None
        ),
        "website": (
            f"https://www.{last}{rng.randint(1, 999)}.gouv.fr"
            if rng.random() < 0.7
            else None
        ),
        "street_address": (
            f"{rng.randint(1, 250)} {rng.choice(STREET_KINDS)} "
            f"{rng.choice(STREET_NAMES)}"
            if rng.random() < 0.75
            else None
        ),
        "postal_code": f"{dept}{rng.randint(0, 999):03d}",
        "city": city,
        "commune": city,
        "latitude": round(rng.uniform(41.0, 51.0), rng.choice([4, 5, 6])) if has_geo else None,
        "longitude": round(rng.uniform(-5.0, 10.0), rng.choice([4, 5, 6])) if has_geo else None,
        "insee_code": f"{dept}{rng.randint(0, 999):03d}",
        "last_updated": (
            dt.date(2023, 1, 1) + dt.timedelta(days=rng.randint(0, 900))
        ).isoformat(),
    }


def in_mart(row: dict) -> bool:
    """The mart's row filter (plans/pipeline.mart), restated on raw values:
    a name, a type and at least one contact or both coordinates."""
    return (
        row["service_name"] is not None
        and row["organization_type"] is not None
        and (
            row["contact_email"] is not None
            or row["contact_phone"] is not None
            or row["street_address"] is not None
            or (row["latitude"] is not None and row["longitude"] is not None)
        )
    )


def anon_email(email: str, salt: str) -> str:
    """The salted email pseudonym of the hash_sha256 method, in hashlib."""
    digest = hashlib.sha256((email.strip().lower() + salt).encode()).hexdigest()
    return f"user_{digest[:16]}@anonymized.gouv.fr"


def _check_clean(row: dict) -> None:
    for col in ("service_name", "parent_organization", "city", "commune"):
        v = row[col]
        if v and (EMAIL_RE.search(v) or PHONE_RE.search(v) or ADDRESS_RE.search(v)):
            raise ValueError(f"generated clean value matches a PII pattern: {v!r}")


SEED_COLUMNS = [
    "service_id", "service_name", "parent_organization", "organization_type",
    "contact_email", "contact_phone", "website", "street_address",
    "postal_code", "city", "commune", "latitude", "longitude", "insee_code",
    "last_updated",
]


def write_bulk_csv(path: str, seed: int, n_rows: int) -> dict:
    """Write the CSV seed (header + ``n_rows``, one file) and return its truth:
    row and byte counts, the predicted mart row count, a fixed sample of
    (service_id, email) pairs and every PII literal written."""
    rng = _rng(seed, "bulk")
    mart_rows = 0
    emails: list[tuple[str, str]] = []
    literals: set[str] = set()
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(SEED_COLUMNS)
        for i in range(n_rows):
            row = _service(rng, f"SVC{i:07d}")
            _check_clean(row)
            if in_mart(row):
                mart_rows += 1
                if row["contact_email"]:
                    emails.append((row["service_id"], row["contact_email"]))
            for col in ("contact_email", "contact_phone", "street_address"):
                if row[col]:
                    literals.add(row[col])
            w.writerow(["" if row[c] is None else row[c] for c in SEED_COLUMNS])
    step = max(1, len(emails) // EMAIL_SAMPLE)
    return {
        "path": path,
        "rows": n_rows,
        "bytes": os.path.getsize(path),
        "mart_rows": mart_rows,
        "email_sample": emails[::step][:EMAIL_SAMPLE],
        "pii_literals": literals,
    }


def _nested(row: dict) -> dict:
    """Flat row -> the annuaire JSONL record shape (download_data.py)."""
    return {
        "id": row["service_id"],
        "name": row["service_name"],
        "parent_name": row["parent_organization"],
        "type": row["organization_type"],
        "contact_email": row["contact_email"],
        "contact_phone": row["contact_phone"],
        "website": [row["website"]] if row["website"] else [],
        "writeAddress": {
            "streetAddress": row["street_address"],
            "postalCode": row["postal_code"],
            "addressLocality": row["city"],
        },
        "geo": {
            "commune": row["commune"],
            "latitude": row["latitude"],
            "longitude": row["longitude"],
            "insee_comm": row["insee_code"],
        },
        "update": row["last_updated"],
    }


def is_planted(index: int) -> bool:
    """Every third delta (2, 5, 8, ...) carries the planted defects."""
    return index % 3 == 2


def write_deltas(out_dir: str, seed: int, n_deltas: int, n_lines: int) -> list[dict]:
    """Write ``n_deltas`` JSONL files of ``n_lines`` lines each and return the
    planted truth per delta."""
    truths = []
    for d in range(n_deltas):
        rng = _rng(seed, f"delta{d}")
        planted = is_planted(d)
        n_valid = n_lines - (MALFORMED_LINES if planted else 0)
        rows = [_service(rng, f"D{d:02d}S{i:05d}") for i in range(n_valid)]
        for row in rows:
            _check_clean(row)
        truth = {
            "index": d,
            "planted": planted,
            "rows": n_lines,
            "valid_rows": n_valid,
            "malformed": 0,
            "pii_rows": {},
            "under_k": None,
        }
        if planted:
            # Distinct rows for each defect, all inside the mart (they keep
            # a type and at least one contact column).
            picks = rng.sample(
                [i for i, r in enumerate(rows) if in_mart(r)],
                PLANTED_EMAIL_ROWS + PLANTED_ADDRESS_ROWS + UNDER_K_ROWS,
            )
            for i in picks[:PLANTED_EMAIL_ROWS]:
                rows[i]["service_name"] = (
                    f"Contact {rng.choice(FIRST)}.{rng.choice(LAST)}@example.fr"
                )
            for i in picks[PLANTED_EMAIL_ROWS : PLANTED_EMAIL_ROWS + PLANTED_ADDRESS_ROWS]:
                rows[i]["service_name"] = (
                    f"Accueil {rng.randint(1, 99)} rue {rng.choice(STREET_NAMES)}"
                )
            for i in picks[PLANTED_EMAIL_ROWS + PLANTED_ADDRESS_ROWS :]:
                rows[i]["organization_type"] = UNDER_K_TYPE
            truth["pii_rows"] = {
                "service_name": {
                    "non_anonymized_email": PLANTED_EMAIL_ROWS,
                    "street_address": PLANTED_ADDRESS_ROWS,
                }
            }
            truth["under_k"] = {"category": UNDER_K_CATEGORY, "size": UNDER_K_ROWS}
            truth["malformed"] = MALFORMED_LINES
        categories = Counter(CATEGORY.get(r["organization_type"], "autres") for r in rows)
        if min(n for c, n in categories.items() if c != UNDER_K_CATEGORY) < K:
            raise ValueError(f"delta {d}: a clean category has fewer than {K} rows")
        lines = [json.dumps(_nested(r), ensure_ascii=False) for r in rows]
        if planted:
            for m in range(MALFORMED_LINES):
                bad = f'{{"id": "D{d:02d}BAD{m}", "name": "truncated'
                lines.insert(rng.randrange(len(lines) + 1), bad)
        path = os.path.join(out_dir, f"delta_{d:02d}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        truth["path"] = path
        truth["bytes"] = os.path.getsize(path)
        truth["mart_rows"] = sum(in_mart(r) for r in rows)
        truths.append(truth)
    return truths


def write_corpus(out_dir: str, seed: int, n_docs: int, n_events: int) -> dict:
    """Write ``documents.parquet`` and ``events.parquet`` under ``out_dir``.

    Shapes follow the registry's test tables: 30-word vocabulary, 10-100
    words per document, 5 % of documents paired with a near-copy that
    differs by one trailing ``dup`` token; time-ordered events over 30 days
    from ``n_events * 15 / 1000`` users, micro-second timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "documents")
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    n_dup = n_docs // 20
    for j, i in zip(range(n_docs - n_dup, n_docs), rng.sample(range(n_docs - n_dup), n_dup)):
        texts[j] = texts[i]
        texts[i] += " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    rng = _rng(seed, "events")
    n_users = max(50, n_events * 15 // 1000)
    mean_gap_us = 30 * 86_400 * 1_000_000 / n_events
    t = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 UTC
    ts = []
    for _ in range(n_events):
        t += rng.expovariate(1 / mean_gap_us)
        ts.append(int(t))
    events = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
            "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
            "value": [round(rng.expovariate(1 / 50), 2) for _ in range(n_events)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    return {
        "documents": n_docs,
        "events": n_events,
        "rows": n_docs + n_events,
        "bytes": sum(
            os.path.getsize(os.path.join(out_dir, f))
            for f in ("documents.parquet", "events.parquet")
        ),
    }
