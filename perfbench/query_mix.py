"""``query_mix``: an interactive curation-and-analytics session.

Seeded scale tables (see ``tables.py``) are queried the way a curation
driver and an analyst share one session. The first op builds the batch
artifact set the mix reads into a fresh artifact root. Every later op
runs one mix query (live curation operators, artifact consumers,
read-only star-schema and ``events`` analytics) and fetches its result
to the driver as Arrow; a pass runs each mix query once, in the fixed
order of ``MIX``.

Outside the timed region, every result of the first pass is
value-hashed against the query's DuckDB oracle with the
canonicalization of ``tools/check_oracles.py``.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb

import tables
from measure import files_since, percentile
from spans import layer_totals, patched

SF = 0.01
#: The artifacts the mix's consumers read, built in registry order.
ARTIFACTS = ("tokens_table",)
#: Mix query -> the operator module (layer) its time is charged to.
#: ``sql`` marks plain DataFrame plans that call no operator module.
#: A pass runs the queries in this order, lightest first, so a fresh JVM
#: pays its one-time costs (code generation, JIT, Python workers) on the
#: same queries in every run and the heavy ones run on warmer code.
MIX = {
    "q94": "skew", "q13": "events", "q165": "text", "q18": "dedup",
    "q22": "similarity", "q100": "sketches", "q03": "sql", "q120": "curation",
    "q266": "graph", "q231": "prefix", "q102": "kmeans",
}
CURATION = {"q165", "q18", "q22", "q102", "q266", "q120"}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


class QueryMix:
    def __init__(self, ctx):
        from ursa_major_choir_etl_spark.plans.queries import ARTIFACT_BUILDERS, ORACLES, QUERIES

        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")
        self.rows = tables.generate(self.data, ctx.seed, SF)
        by_short = {name.split("_", 1)[0]: name for name in QUERIES}
        self.names = {q: by_short[q] for q in MIX}
        self.queries, self.oracles, self.builders = QUERIES, ORACLES, ARTIFACT_BUILDERS
        self.artifact_op: dict = {}
        self.passes: list[dict] = []
        self.artifact_calls = {"builds": 0, "hits": 0}
        self.problems: list[str] = []

    # -- artifacts -----------------------------------------------------
    def _counting_materialize(self, materialize_once):
        def counted(spark, name, scope, version, inputs, builder):
            built = []

            def build():
                built.append(name)
                return builder()

            out = materialize_once(spark, name, scope, version, inputs, build)
            self.artifact_calls["builds" if built else "hits"] += 1
            return out

        return counted

    def build_artifacts(self) -> dict:
        """The cold op: every mix artifact into a fresh root."""
        eng, tr = self.ctx.engine, self.ctx.tracer
        root = os.environ["SPARK_GRAFT_ARTIFACTS"]
        per = {}
        first_span = len(tr.spans)
        t0 = time.perf_counter()
        with tr.span("artifacts.build", "artifacts"):
            for name in ARTIFACTS:
                t1 = time.perf_counter()
                with tr.span(f"artifacts.{name}", "artifacts"):
                    self.builders[name](eng.spark, self.data)
                per[name] = time.perf_counter() - t1
        staged = eng.release()
        op = {"s": time.perf_counter() - t0, "per_artifact_s": per,
              "staged": staged, "builds": self.artifact_calls["builds"],
              "bytes": files_since(root, 0)[0], "errors": []}
        if op["builds"] < len(ARTIFACTS) or not op["bytes"]:
            op["errors"].append(f"{op['builds']} artifact builds, {op['bytes']} bytes on disk")
        op["spans"] = tr.spans[first_span:]
        tr.collect_stages(op["spans"])
        self.artifact_op = op
        return op

    # -- passes ------------------------------------------------------
    def one_pass(self, traced: bool, check: bool) -> dict:
        eng, tr = self.ctx.engine, self.ctx.tracer
        tr.enabled = traced
        tr.op_id = len(self.passes)
        first_span = len(tr.spans)
        hits0 = self.artifact_calls["hits"]
        gc0 = eng.gc_ms()
        ops, staged, results = [], 0, {}
        t_pass = time.perf_counter()
        for q in MIX:
            name, layer = self.names[q], MIX[q]
            t0 = time.perf_counter()
            try:
                with tr.span("queries.plan", layer, query=q):
                    df = self.queries[name](eng.spark, self.data)
                with tr.span("queries.exec", layer, query=q):
                    table = df.toArrow()
                ok = True
            except Exception as exc:  # one failing query must not end the run
                ok = False
                self.problems.append(f"{q}: {type(exc).__name__}: {exc}"[:500])
            s = time.perf_counter() - t0
            if ok and check:
                results[q] = table
            staged += eng.release()
            ops.append({"query": q, "s": s, "ok": ok})
        p = {
            "pass": len(self.passes), "traced": traced, "s": time.perf_counter() - t_pass,
            "ops": ops, "staged": staged, "gc_ms": eng.gc_ms() - gc0,
            "artifact_hits": self.artifact_calls["hits"] - hits0,
        }
        tr.enabled = self.ctx.trace
        p["spans"] = tr.spans[first_span:]
        tr.collect_stages(p["spans"])
        if check:
            t = time.perf_counter()
            self.problems += self.check(results)
            p["check_s"] = time.perf_counter() - t
        self.passes.append(p)
        return p

    def check(self, results: dict) -> list[str]:
        """Value-hash each fetched result against its DuckDB oracle."""
        from check_oracles import canon_rows

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        errors = []
        for q, table in results.items():
            res = con.execute(self.oracles[self.names[q]])
            ocols = [d[0] for d in res.description]
            want = [tuple(d[c] for c in ocols) for d in res.fetch_arrow_table().to_pylist()]
            cols = table.column_names
            got = [tuple(d[c] for c in cols) for d in table.to_pylist()]
            if sorted(cols) != sorted(ocols) or canon_rows(cols, got) != canon_rows(ocols, want):
                errors.append(f"{q}: result differs from its oracle")
        con.close()
        return errors

    def run(self) -> None:
        """The artifact op, then passes until ``seconds`` of measured
        time have passed (at least one; the first is checked). A traced
        run adds an untraced and a traced pass after the checked one:
        their difference is the tracing overhead."""
        from ursa_major_choir_etl_spark import artifacts

        ctx = self.ctx
        counted = self._counting_materialize(artifacts.materialize_once)
        with patched(artifacts, {"materialize_once": counted}):
            ctx.tracer.enabled = ctx.trace
            measured = self.build_artifacts()["s"]
            measured += self.one_pass(traced=False, check=True)["s"]
            if ctx.trace:
                self.one_pass(traced=False, check=False)
                self.one_pass(traced=True, check=False)
            while measured < ctx.seconds:
                measured += self.one_pass(traced=False, check=False)["s"]

    @property
    def attempted(self) -> int:
        return 1 + sum(len(p["ops"]) for p in self.passes)

    @property
    def failed(self) -> int:
        return len(self.problems)

    def errors(self) -> list[str]:
        return self.problems

    def result(self) -> tuple[dict, dict, dict]:
        art = self.artifact_op
        # the traced run's checked first pass is its warm-up
        untraced = [p for p in self.passes if not p["traced"]][1 if self.ctx.trace else 0:]
        # the run's measured op sequence: the artifact build and every
        # untraced pass the time budget left room for
        e2e = {"ops_s": art["s"] + sum(p["s"] for p in untraced)}
        detail = {"artifact_build_s": art["s"], "pass_s": statistics.median(p["s"] for p in untraced),
                  "scale_factor": SF, "rows": self.rows}
        for label, keep in (("op", set(MIX)), ("curation", CURATION), ("query", set(MIX) - CURATION)):
            sub = [o["s"] for p in untraced for o in p["ops"] if o["query"] in keep]
            detail[f"{label}_p50_s"] = statistics.median(sub)
            detail[f"{label}_p90_s"] = percentile(sub, 0.9)
            detail[f"{label}_pass_s"] = statistics.median(
                sum(o["s"] for o in p["ops"] if o["query"] in keep) for p in untraced
            )
        detail["per_query_s"] = {
            q: statistics.median(o["s"] for p in untraced for o in p["ops"] if o["query"] == q)
            for q in MIX
        }
        detail["artifact_op"] = {k: v for k, v in art.items() if k != "spans"}
        detail["passes"] = [{k: v for k, v in p.items() if k != "spans"} for p in self.passes]
        layers = {}
        traced = [p for p in self.passes if p["traced"]]
        if traced:
            layers = self.layers(traced[-1], art)
            layers["trace.overhead_s"] = traced[-1]["s"] - untraced[-1]["s"]
        return e2e, layers, detail

    def layers(self, p: dict, art: dict) -> dict:
        ctx, spans = self.ctx, p["spans"]
        tot = layer_totals(ctx.tracer, spans)
        plan = [r for r in spans if r["name"] == "queries.plan"]
        execs = [r for r in spans if r["name"] == "queries.exec"]
        art_tot = layer_totals(ctx.tracer, art["spans"]).get("artifacts", {})
        m = {
            "io.scan_bytes": sum(t["inputBytes"] for t in tot.values()),
            "queries.plan_s": sum(r["end"] - r["start"] for r in plan),
            "queries.plan_jobs": sum(len(r.get("jobs", [])) for r in plan),
            "queries.exec_s": sum(r["end"] - r["start"] for r in execs),
            "queries.jobs": sum(len(r.get("jobs", [])) for r in execs),
            "queries.stages": sum(r.get("stages", 0) for r in execs),
            "artifacts.build_s": art["s"],
            "artifacts.builds": art["builds"],
            "artifacts.hits": p["artifact_hits"],
            "artifacts.bytes": art["bytes"],
            "artifacts.busy_ratio": _busy(art_tot.get("executorRunTime", 0), art["s"], ctx.engine.cores),
            "caching.staged": p["staged"],
            "jvm.gc_ms": p["gc_ms"],
        }
        for name, s in art["per_artifact_s"].items():
            m[f"artifacts.{name}.build_s"] = s
        m.update(ctx.layer_metrics(tot, p["s"]))
        return m


def _busy(run_ms: float, wall_s: float, cores: int) -> float:
    return run_ms / (wall_s * 1000.0 * cores) if wall_s > 0 else 0.0
