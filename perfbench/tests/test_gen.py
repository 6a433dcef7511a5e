"""The input generator: determinism and planted truth."""

import csv
import json
import os
from collections import Counter

import gen


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def _write_all(d, seed):
    os.makedirs(d)
    gen.write_bulk_csv(os.path.join(d, "bulk.csv"), seed, 500)
    gen.write_deltas(d, seed, 6, 200)
    gen.write_corpus(d, seed, 60, 600)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(tmp_path / "a", 7)
    _write_all(tmp_path / "b", 7)
    _write_all(tmp_path / "c", 8)
    a, b, c = _files(tmp_path / "a"), _files(tmp_path / "b"), _files(tmp_path / "c")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[f] != c[f] for f in a)


def _cells(row):
    return {k: (v if v != "" else None) for k, v in row.items()}


def test_bulk_truth_matches_the_file(tmp_path):
    path = str(tmp_path / "bulk.csv")
    truth = gen.write_bulk_csv(path, 3, 800)
    with open(path, newline="", encoding="utf-8") as fh:
        rows = [_cells(r) for r in csv.DictReader(fh)]
    assert truth["rows"] == len(rows) == 800
    assert truth["bytes"] == os.path.getsize(path)
    assert truth["mart_rows"] == sum(gen.in_mart(r) for r in rows)
    by_id = {r["service_id"]: r for r in rows}
    assert truth["email_sample"]
    for sid, email in truth["email_sample"]:
        assert by_id[sid]["contact_email"] == email and gen.in_mart(by_id[sid])
    written = {
        r[c] for r in rows for c in ("contact_email", "contact_phone", "street_address") if r[c]
    }
    assert truth["pii_literals"] == written


def test_planted_truth_matches_the_deltas(tmp_path):
    truths = gen.write_deltas(str(tmp_path), 5, 6, 300)
    assert [t["planted"] for t in truths] == [False, False, True, False, False, True]
    for t in truths:
        good, bad = [], 0
        with open(t["path"], encoding="utf-8") as fh:
            for line in fh:
                try:
                    good.append(json.loads(line))
                except json.JSONDecodeError:
                    bad += 1
        assert bad == t["malformed"] and len(good) + bad == t["rows"] == 300
        assert len(good) == t["valid_rows"]
        names = [r["name"] for r in good]
        hits = {
            "non_anonymized_email": sum(bool(gen.EMAIL_RE.search(n)) for n in names),
            "street_address": sum(bool(gen.ADDRESS_RE.search(n)) for n in names),
        }
        cats = Counter(gen.CATEGORY.get(r["type"], "autres") for r in good)
        if t["planted"]:
            assert hits == t["pii_rows"]["service_name"]
            assert cats[t["under_k"]["category"]] == t["under_k"]["size"] < gen.K
        else:
            assert hits == {"non_anonymized_email": 0, "street_address": 0}
            assert t["malformed"] == 0 and t["under_k"] is None
            assert gen.UNDER_K_CATEGORY not in cats
        assert min(n for c, n in cats.items() if c != gen.UNDER_K_CATEGORY) >= gen.K


def test_anon_email_matches_the_reference_shape():
    got = gen.anon_email(" Jean.Martin@Example.fr ", "salt")
    assert got.startswith("user_") and got.endswith("@anonymized.gouv.fr")
    assert got == gen.anon_email("jean.martin@example.fr", "salt")
    assert len(got.split("@")[0]) == len("user_") + 16
