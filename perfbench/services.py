"""The product path: raw -> staging -> anonymized -> enriched -> mart ->
validation gate -> PII report, once over a bulk CSV seed and once per small
JSONL delta.

One cycle is three deltas, the third of them planted, followed by one bulk
run, so each cycle covers the execution-bound bulk path, the
fixed-cost-bound green delta path and the gate's red path.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import probe as pb

BULK_ROWS = 30_000
WARM_ROWS = 10_000
DELTAS = 12
DELTA_LINES = 1_000
DELTAS_PER_CYCLE = 3
LAYERS = ("anonymized", "enriched", "mart")
BUILDERS = ("staging", "anonymize", "enrich", "mart")
BUILD_REPEATS = 3


def _rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return pq.ParquetDataset(path).read().num_rows


class Services:
    UNTOUCHED = ("queries.", "streaming.")

    def __init__(self, spark, work: str, seed: int, salt: str, probe: pb.Probe):
        self.spark, self.work, self.seed, self.salt, self.p = spark, work, seed, salt, probe
        self.errors: list[str] = []
        self._n = 0
        self._next_delta = 0

    # -- inputs -----------------------------------------------------------
    def generate(self) -> dict:
        inp = os.path.join(self.work, "inputs")
        os.makedirs(inp)
        self.bulk = gen.write_bulk_csv(os.path.join(inp, "bulk.csv"), self.seed, BULK_ROWS)
        self.warm = gen.write_bulk_csv(os.path.join(inp, "warm.csv"), self.seed + 1, WARM_ROWS)
        self.deltas = gen.write_deltas(inp, self.seed, DELTAS, DELTA_LINES)
        return {
            "bulk_rows": self.bulk["rows"],
            "bulk_bytes": self.bulk["bytes"],
            "delta_lines": DELTA_LINES,
            "delta_bytes": [d["bytes"] for d in self.deltas],
            "planted": [
                {k: d[k] for k in ("index", "malformed", "pii_rows", "under_k")}
                for d in self.deltas
                if d["planted"]
            ],
        }

    # -- one product run ----------------------------------------------------
    def _product(self, kind: str, truth: dict) -> dict:
        from dbt_gdpr_anonymizer_spark.operators.caching import release_caches
        from dbt_gdpr_anonymizer_spark.operators.report import export_report, pii_inventory
        from dbt_gdpr_anonymizer_spark.operators.validate import run_validation_gate
        from dbt_gdpr_anonymizer_spark.plans.pipeline import run_pipeline
        from dbt_gdpr_anonymizer_spark.policy import SERVICES_POLICY
        from dbt_gdpr_anonymizer_spark.sources.ingest import (
            flatten_services,
            read_seed_csv,
            read_services_jsonl,
        )

        self._n += 1
        out = os.path.join(self.work, f"out{self._n}")
        spark, p = self.spark, self.p
        op = {
            "kind": kind,
            "class": "batch" if kind == "bulk" else "incremental",
            "rows": truth["rows"],
            "bytes": truth["bytes"],
            "ok": False,
        }
        c0, t0 = p.cpu(), time.perf_counter()
        try:
            with p.tracer.span("op", kind=kind):
                with p.call("sources.ingest"):
                    if kind == "bulk":
                        raw = read_seed_csv(spark, truth["path"])
                    else:
                        raw = flatten_services(read_services_jsonl(spark, truth["path"]))
                with p.call("plans.pipeline.run_pipeline"):
                    layers = run_pipeline(raw, SERVICES_POLICY, output_root=out)
                with p.call("operators.validate.run_validation_gate"):
                    code = run_validation_gate(
                        layers["enriched"], layers["mart"], failures_root=f"{out}/test_results"
                    )
                with p.call("operators.report"):
                    export_report(pii_inventory(spark, [SERVICES_POLICY]), f"{out}/pii_report")
                with p.call("operators.caching.release_caches", window=False):
                    for df in layers.values():
                        release_caches(df)
        except Exception as e:  # a raising operation counts as failed
            op["wall_s"] = time.perf_counter() - t0
            op["cpu_s"], op["jit_s"] = (b - a for a, b in zip(c0, p.cpu()))
            self.errors.append(f"{kind}: {e!r}"[:300])
            shutil.rmtree(out, ignore_errors=True)
            return op
        op["wall_s"] = time.perf_counter() - t0
        op["cpu_s"], op["jit_s"] = (b - a for a, b in zip(c0, p.cpu()))
        op["corrupt_rows"] = truth["rows"] - _rows(f"{out}/anonymized")
        op["ok"] = self._check(kind, truth, out, code, op["corrupt_rows"])
        shutil.rmtree(out)
        return op

    def _check(self, kind: str, truth: dict, out: str, code: int, corrupt: int) -> bool:
        """Outputs against the generator's truth; never inside the timed part."""
        errs = []
        mart_rows = _rows(f"{out}/mart")
        if mart_rows != truth["mart_rows"]:
            errs.append(f"mart rows {mart_rows} != {truth['mart_rows']}")
        if kind == "bulk":
            if code != 0:
                errs.append(f"exit {code} != 0")
            mart = pq.ParquetDataset(f"{out}/mart").read()
            by_id = dict(
                zip(mart.column("service_id").to_pylist(), mart.column("contact_email").to_pylist())
            )
            for sid, email in truth["email_sample"]:
                if by_id.get(sid) != gen.anon_email(email, self.salt):
                    errs.append(f"email hash mismatch for {sid}")
                    break
            cells = set()
            for name in mart.column_names:
                if pa.types.is_string(mart.schema.field(name).type):
                    cells.update(v for v in mart.column(name).to_pylist() if v)
            leaked = cells & truth["pii_literals"]
            if leaked:
                errs.append(f"{len(leaked)} raw PII literals in the mart")
        else:
            want = 1 if truth["planted"] else 0
            if code != want:
                errs.append(f"delta {truth['index']}: exit {code} != {want}")
            if corrupt != truth["malformed"]:
                errs.append(f"delta {truth['index']}: {corrupt} corrupt drops != {truth['malformed']}")
            fails = f"{out}/test_results"
            if truth["planted"]:
                scan = pq.ParquetDataset(f"{fails}/pii_scan").read().to_pylist()
                got = Counter((r["column_name"], r["issue_type"]) for r in scan)
                exp = Counter(
                    {(c, i): n for c, issues in truth["pii_rows"].items() for i, n in issues.items()}
                )
                if got != exp:
                    errs.append(f"delta {truth['index']}: pii_scan {dict(got)} != {dict(exp)}")
                if _rows(f"{fails}/assert_no_pii_in_mart") != 0:
                    errs.append(f"delta {truth['index']}: singular-test rows present")
                groups = pq.ParquetDataset(f"{fails}/k_anonymity").read().to_pylist()
                under = truth["under_k"]
                if [(g["organization_category"], g["group_size"]) for g in groups] != [
                    (under["category"], under["size"])
                ]:
                    errs.append(f"delta {truth['index']}: k-anonymity groups {groups}")
            elif os.path.exists(fails):
                errs.append(f"delta {truth['index']}: failure tables on a clean delta")
        self.errors.extend(f"{kind}: {e}" for e in errs)
        return not errs

    # -- workload interface -------------------------------------------------
    def warm_up(self) -> list[dict]:
        """A smaller CSV run and a planted delta: every code path of a cycle
        (CSV and JSON ingest, gate green and red paths) run once."""
        return [self._product("bulk", self.warm), self._product("delta", self.deltas[2])]

    def cycle(self) -> list[dict]:
        # Deltas first: the JIT compiles what the warm-up's CSV run made hot
        # meanwhile, before the bulk run needs it.
        ops = []
        for _ in range(DELTAS_PER_CYCLE):
            ops.append(self._product("delta", self.deltas[self._next_delta % DELTAS]))
            self._next_delta += 1
        ops.append(self._product("bulk", self.bulk))
        return ops

    def builder_probe(self) -> dict:
        """Plan build of each pipeline builder on the bulk input, no action:
        median seconds and py4j round trips per builder."""
        from dbt_gdpr_anonymizer_spark.plans import pipeline
        from dbt_gdpr_anonymizer_spark.sources.ingest import read_seed_csv

        p = self.p
        samples: dict[str, list[tuple[float, int]]] = {b: [] for b in BUILDERS}
        for _ in range(BUILD_REPEATS):
            df = read_seed_csv(self.spark, self.bulk["path"])
            for b in BUILDERS:
                c0, t0 = p.py4j.calls, time.perf_counter()
                df = getattr(pipeline, b)(df)
                samples[b].append((time.perf_counter() - t0, p.py4j.calls - c0))
        return {
            b: {
                "build_s": sorted(s for s, _ in v)[len(v) // 2],
                "py4j_calls": sorted(c for _, c in v)[len(v) // 2],
            }
            for b, v in samples.items()
        }

    def layer_metrics(self, spans: list[dict], ops: list[dict]) -> tuple[dict, dict]:
        """Per-layer metrics from the traced cycle: (metrics, detail seconds).
        Shares are percent of the traced cycle's summed op wall time."""
        cores = self.p.cores
        cycle_s = sum(o["wall_s"] for o in ops)

        def by(name: str) -> list[dict]:
            return [s for s in spans if s["name"] == name]

        def pct(sec: float) -> float:
            return 100.0 * sec / cycle_s

        m, detail = {}, {}

        ingest_s = sum(s["end"] - s["start"] for s in by("sources.ingest"))
        m["ingest.pct"] = pct(ingest_s)
        m["ingest.corrupt_rows"] = sum(o.get("corrupt_rows", 0) for o in ops)
        detail["ingest.build_s"] = ingest_s

        # Builder shares are of one mean product run: plan build does not
        # grow with the input.
        mean_op = cycle_s / len(ops)
        for b, v in self.builder_probe().items():
            m[f"pipeline.{b}.build_pct"] = 100.0 * v["build_s"] / mean_op
            m[f"pipeline.{b}.py4j_calls"] = v["py4j_calls"]
            detail[f"pipeline.{b}.build_s"] = v["build_s"]

        pipe = by("plans.pipeline.run_pipeline")
        written = 0
        for layer in LAYERS:
            desc = f"gdpr-anonymizer layer={layer}"
            jobs = [j for s in pipe for j in s["jobs"] if j.get("description") == desc]
            ids = {i for j in jobs for i in j["stageIds"]}
            stages = [st for s in pipe for st in s["stages"] if st["stageId"] in ids]
            wall = pb.job_wall_s(jobs)
            t = pb.stage_totals(jobs, stages, wall, cores)
            m[f"pipeline.{layer}.pct"] = pct(wall)
            m[f"pipeline.{layer}.tasks"] = t["tasks"]
            m[f"pipeline.{layer}.core_util"] = t["core_util"]
            m[f"pipeline.{layer}.bytes_written"] = t["bytes_written"]
            detail[f"pipeline.{layer}.exec_s"] = wall
            detail[f"pipeline.{layer}.executor_run_s"] = t["executor_run_s"]
            written += t["bytes_written"]
        m["pipeline.write_amplification"] = written / sum(o["bytes"] for o in ops)

        gate = by("operators.validate.run_validation_gate")
        gate_s = sum(s["end"] - s["start"] for s in gate)
        t = pb.stage_totals(
            [j for s in gate for j in s["jobs"]],
            [st for s in gate for st in s["stages"]],
            gate_s,
            cores,
        )
        m["validate.pct"] = pct(gate_s)
        m["validate.jobs"] = t["jobs"]
        m["validate.core_util"] = t["core_util"]
        detail["validate.gate_s"] = gate_s
        detail["validate.executor_run_s"] = t["executor_run_s"]

        report = by("operators.report")
        report_s = sum(s["end"] - s["start"] for s in report)
        m["report.pct"] = pct(report_s)
        m["report.jobs"] = sum(len(s["jobs"]) for s in report)
        m["report.py4j_calls"] = sum(s["py4j_calls"] for s in report)
        detail["report.s"] = report_s
        return m, detail
