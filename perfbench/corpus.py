"""Eight registry queries over a generated documents/events corpus: the text
and language-model family, the near-duplicate family and the sessionize
streaming replay. One cycle is one pass over the eight, each built, forced
with a noop write and released.

Correctness is checked on a small corpus from the same seed, where every
query's collected output must hash-match its DuckDB oracle (the near-dup
oracles are all-pairs, too slow at the timed size). That pass doubles as
the warm-up.
"""

from __future__ import annotations

import importlib.util
import os
import time

import gen
import probe as pb

FAMILIES = {
    "text": [
        "text_quality_profile",
        "char_entropy_documents",
        "bigram_lm_perplexity_documents",
        "naive_bayes_lang_classifier",
        "remove_duplicate_spans_documents",
    ],
    "neardup": ["minhash_lsh_neardup", "edit_distance_neardup"],
    "stream": ["stream_sessionize_events"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
DOCS, EVENTS = 1_000, 20_000
CHECK_DOCS, CHECK_EVENTS = 150, 3_000


def _checker(root: str):
    """The order-insensitive hash of ``scripts/check_correctness.py``."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "scripts", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


class Corpus:
    UNTOUCHED = ("ingest.", "pipeline.", "validate.", "report.")

    def __init__(self, spark, work: str, seed: int, root: str, probe: pb.Probe):
        self.spark, self.work, self.seed, self.root, self.p = spark, work, seed, root, probe
        self.errors: list[str] = []

    def generate(self) -> dict:
        self.dir = os.path.join(self.work, "corpus")
        self.check_dir = os.path.join(self.work, "check")
        os.makedirs(self.dir)
        os.makedirs(self.check_dir)
        self.truth = gen.write_corpus(self.dir, self.seed, DOCS, EVENTS)
        check = gen.write_corpus(self.check_dir, self.seed, CHECK_DOCS, CHECK_EVENTS)
        return {"corpus": self.truth, "check_corpus": check}

    def _rows(self, q: str) -> int:
        return self.truth["events" if q in FAMILIES["stream"] else "documents"]

    def warm_up(self) -> list[dict]:
        """Every query on the check corpus, collected and compared with its
        oracle."""
        import duckdb

        from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
        from dbt_gdpr_anonymizer_spark.queries import all_oracles, all_queries

        table_hash = _checker(self.root)
        qs, oracles = all_queries(), all_oracles()
        con = duckdb.connect()
        for t in ("documents", "events"):
            con.execute(f"create view {t} as select * from '{self.check_dir}/{t}.parquet'")
        ops = []
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                df = qs[q](self.spark, self.check_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                release_caches(df)
            except Exception as e:  # a raising operation counts as failed
                self.errors.append(f"{q}: {e!r}"[:300])
                ops.append({"kind": q, "wall_s": time.perf_counter() - t0, "ok": False})
                continue
            wall = time.perf_counter() - t0
            res = con.execute(oracles[q])
            ocols, orows = [d[0] for d in res.description], res.fetchall()
            ok = (
                sorted(cols) == sorted(ocols)
                and len(rows) == len(orows)
                and table_hash(cols, rows) == table_hash(ocols, orows)
            )
            if not ok:
                self.errors.append(f"{q}: output differs from its oracle")
            ops.append({"kind": q, "rows": len(rows), "wall_s": wall, "ok": ok})
        con.close()
        return ops

    def cycle(self) -> list[dict]:
        from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
        from dbt_gdpr_anonymizer_spark.queries import all_queries

        qs, p = all_queries(), self.p
        ops = []
        for q in QUERIES:
            op = {
                "kind": q,
                "class": "incremental" if q in FAMILIES["stream"] else "batch",
                "rows": self._rows(q),
                "ok": True,
            }
            c0, t0 = p.cpu(), time.perf_counter()
            try:
                with p.tracer.span("op", kind=q):
                    with p.call(f"queries.{q}.build"):
                        df = qs[q](self.spark, self.dir)
                    with p.call(f"queries.{q}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    with p.call("operators.caching.release_caches", window=False):
                        release_caches(df)
            except Exception as e:  # a raising operation counts as failed
                self.errors.append(f"{q}: {e!r}"[:300])
                op["ok"] = False
            op["wall_s"] = time.perf_counter() - t0
            op["cpu_s"], op["jit_s"] = (b - a for a, b in zip(c0, p.cpu()))
            ops.append(op)
            if p.enabled and q in FAMILIES["stream"]:
                ops[-1]["stream"] = p.take_stream_progress()
        return ops

    def layer_metrics(self, spans: list[dict], ops: list[dict]) -> tuple[dict, dict]:
        """Per-query metrics from the traced pass: (metrics, detail seconds).
        Shares are percent of the traced pass's summed op wall time."""
        cores = self.p.cores
        pass_s = sum(o["wall_s"] for o in ops)
        m, detail = {}, {}
        for q in QUERIES:
            build = next(s for s in spans if s["name"] == f"queries.{q}.build")
            exe = next(s for s in spans if s["name"] == f"queries.{q}.exec")
            build_s, exec_s = build["end"] - build["start"], exe["end"] - exe["start"]
            t = pb.stage_totals(
                build["jobs"] + exe["jobs"], build["stages"] + exe["stages"], build_s + exec_s, cores
            )
            m[f"queries.{q}.build_pct"] = 100.0 * build_s / pass_s
            m[f"queries.{q}.exec_pct"] = 100.0 * exec_s / pass_s
            for k in ("jobs", "shuffle_bytes", "spill_bytes", "core_util"):
                m[f"queries.{q}.{k}"] = t[k]
            detail[f"queries.{q}.build_s"] = build_s
            detail[f"queries.{q}.exec_s"] = exec_s
        for o in ops:
            if "stream" in o:
                q, st = o["kind"], o["stream"]
                m[f"streaming.{q}.batches"] = st["batches"]
                m[f"streaming.{q}.add_batch_pct"] = 100.0 * st["add_batch_ms"] / 1e3 / o["wall_s"]
                m[f"streaming.{q}.commit_pct"] = 100.0 * st["commit_ms"] / 1e3 / o["wall_s"]
                m[f"streaming.{q}.state_rows"] = st["state_rows"]
                detail[f"streaming.{q}.add_batch_ms"] = st["add_batch_ms"]
                detail[f"streaming.{q}.commit_ms"] = st["commit_ms"]
        return m, detail
