"""The workloads. Each drives only the public API the CLI uses.

An iteration times its region with the ``region`` it is given (see
``probes.Region``) and returns a dict with ``attempted`` and ``failed``.
Correctness gates run outside the timed region and count into
``failed``.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import duckdb

import gen

ROOT = Path(__file__).resolve().parent.parent

# The models dag_build builds: a staging view, and a staging table with
# the mart built on it (the +dim_customer cone). Their generated code fits
# Spark's codegen cache with room to spare, so warm iterations compile no
# new classes; a selection near the cache's size evicts more or fewer
# classes from run to run (see README.md, "Warm-up").
DAG_SELECTION = ["stg_transactions", "stg_customers", "dim_customer"]
# no check of the selection fails on the fixture rows, not even a warning
DAG_EXPECTED_WARNS: set[str] = set()


class Workload:
    name = ""
    # untimed warm iterations after the cold one, and the fewest timed
    # ones a run makes; both fixed, the same on every commit
    warmup = 1
    min_timed = 3

    def __init__(self, work: Path, seed: int, scale: str) -> None:
        self.work, self.seed, self.scale = work, seed, gen.SCALES[scale]
        self.warmup = self.scale.get("warmup", self.warmup)
        self.min_timed = self.scale.get("min_timed", self.min_timed)
        self.traced = False

    def generate(self) -> dict:
        raise NotImplementedError

    def iteration(self, spark, i: int, tracer, region) -> dict:
        raise NotImplementedError

    def after_cold(self, spark) -> None:
        """Runs once, untimed, after the cold iteration."""

    def layers(self, iters: list[dict], by_layer: dict) -> dict:
        """Per-layer figures that come from the workload rather than spans;
        zero where the workload does not exercise the layer."""
        return {"engine.registry.plan_s": 0.0,
                "engine.checks.jobs_per_check": 0.0}


def _duck(threads: int = 1) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {threads}")
    return con


# ---------------------------------------------------------------------------
# dag_build
# ---------------------------------------------------------------------------

class DagBuild(Workload):
    """``build`` of the selection into a fresh parquet warehouse: the two
    freshness probes, the models, then every check attached to them."""

    name = "dag_build"
    # its iterations are the shortest (2-4 s), so more of them are timed:
    # a median over eight spans about 20 s, longer than most bursts of
    # steal seen on a shared host
    warmup = 2
    min_timed = 8

    def generate(self) -> dict:
        self.bronze = self.work / "bronze"
        return gen.bronze(str(self.bronze), self.seed)

    def _runner(self, spark, warehouse):
        from furchild_spark.engine.registry import Runner
        from furchild_spark.models import registry

        bronze = self.bronze

        def sources(name: str):
            return spark.read.parquet(f"{bronze}/{name}.parquet")

        return Runner(spark, registry, sources=sources,
                      warehouse_dir=warehouse, now=gen.bronze_now())

    def iteration(self, spark, i, tracer, region) -> dict:
        from furchild_spark.engine import checks as C
        from furchild_spark.engine import materialize as mat
        from furchild_spark.models import registry

        wh = str(self.work / f"warehouse{i}")
        runner = self._runner(spark, wh)

        def module(args, kwargs):
            return "models." + registry[args[0]].fn.__module__.rsplit(".", 1)[-1]

        with region, \
                tracer.patched(C, "run_freshness", "engine.checks.freshness"), \
                tracer.patched(C, "run_checks", "engine.checks.run_checks"), \
                tracer.patched(runner, "run", "engine.registry.run"), \
                tracer.patched(runner, "ref", module, tag=lambda a, k: a[0],
                               when=lambda: tracer.inside("engine.registry.run")), \
                tracer.patched(mat, "overwrite", "engine.materialize.overwrite"):
            res = runner.build(DAG_SELECTION, checks=C.CHECKS,
                               freshness=C.FRESHNESS, raise_on_error=False,
                               threads=1)
        self.n_checks = len(res.checks)

        failed = sum(runner.run_results.get(n, {}).get("status") != "success"
                     for n in DAG_SELECTION)
        failed += len(res.errors)
        warns = {getattr(w, "name", None) or f"freshness:{w.source}"
                 for w in res.warnings}
        failed += len(warns ^ DAG_EXPECTED_WARNS)
        failed += sorted(res.models) != sorted(DAG_SELECTION)
        counts = self._row_counts(wh)
        if i == 0:
            self.counts = counts
        failed += counts != self.counts
        model_s = {n: r["seconds"] for n, r in runner.run_results.items()}
        return {"failed": int(failed),
                "attempted": len(DAG_SELECTION) + len(res.checks) + len(res.freshness),
                "model_s": model_s, "warns": sorted(warns), "row_counts": counts}

    def _row_counts(self, wh: str) -> dict:
        """Rows of each materialized model, read by DuckDB (no Spark jobs)."""
        con = _duck()
        out = {}
        for name in sorted(os.listdir(wh)):
            files = f"{wh}/{name}/**/*.parquet"
            out[name] = con.execute(
                f"SELECT count(*) FROM read_parquet('{files}')").fetchone()[0]
        return out

    def after_cold(self, spark) -> None:
        if self.traced:
            # the CLI's dag probe: a view-only resolve of every model
            from furchild_spark.models import registry

            runner = self._runner(spark, None)
            t0 = time.perf_counter()
            for name in registry.names():
                runner.ref(name)
            self.plan_s = time.perf_counter() - t0

    def layers(self, iters, by_layer) -> dict:
        out = super().layers(iters, by_layer)
        out["engine.registry.plan_s"] = self.plan_s
        jobs = by_layer.get("engine.checks.run_checks", {}).get("jobs", 0)
        out["engine.checks.jobs_per_check"] = jobs / len(iters) / self.n_checks
        return out


# ---------------------------------------------------------------------------
# catalog_headline
# ---------------------------------------------------------------------------

def headline() -> list[str]:
    from furchild_spark.queries import QUERIES

    return sorted(n for n, q in QUERIES.items() if q.headline)


def clear_caches(spark) -> None:
    """Drop cached tables and persisted/local-checkpointed RDDs between
    entries, as bench.py does."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)


class CatalogHeadline(Workload):
    """One pass: every headline entry constructed, then executed, caches
    cleared between entries. The cold pass fetches each entry's rows, as
    a one-shot user would, and checks them against the entry's DuckDB
    oracle (untimed); warm passes execute into the noop sink."""

    name = "catalog_headline"

    def generate(self) -> dict:
        sys.path.insert(0, str(ROOT / "tools"))
        from check_correctness import TABLES, normalize

        from furchild_spark.queries import QUERIES

        # the directory name carries the scale: catalog entries read it to
        # size their shuffles (_tune_for_sf)
        self.sf_dir = str(self.work / f"sf{self.scale['sf']}")
        rows = gen.catalog(self.sf_dir, self.seed, self.scale["sf"])
        self.entries = headline()
        self.normalize = normalize
        self.expected = {}
        # before any JVM exists, so it may use every core
        con = _duck(os.cpu_count())
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        for name in self.entries:
            ora = con.sql(QUERIES[name].oracle)
            cols = [d[0] for d in ora.description]
            rows_ = [dict(zip(cols, t)) for t in ora.fetchall()]
            self.expected[name] = (sorted(cols), normalize(rows_, sorted(cols)))
        return rows

    def iteration(self, spark, i, tracer, region) -> dict:
        """Each entry's rows are compared as tools/check_correctness.py
        does: column names, then normalized values sorted."""
        from furchild_spark.queries import QUERIES

        got, entry_s = {}, {}
        with region:
            for name in self.entries:
                e0 = time.perf_counter()
                with tracer.span("queries.construct", name):
                    df = QUERIES[name].fn(spark, self.sf_dir)
                with tracer.span("queries.exec", name):
                    if i == 0:
                        got[name] = (sorted(df.columns),
                                     [r.asDict() for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
                entry_s[name] = time.perf_counter() - e0
                clear_caches(spark)
        bad = {}
        for name, (cols, rows) in got.items():
            want_cols, want = self.expected[name]
            if cols != want_cols:
                bad[name] = f"columns {cols} != {want_cols}"
            elif self.normalize(rows, cols) != want:
                bad[name] = f"values differ ({len(rows)} vs {len(want)} rows)"
        return {"attempted": len(self.entries),
                "failed": len(bad), "entry_s": entry_s, "mismatches": bad}


WORKLOADS = {w.name: w for w in (DagBuild, CatalogHeadline)}
