"""Workload ``registry_sf001``: query-registry specs, called as ``__spark_entry__`` exposes them.

Each spec runs as ``spec.spark(spark, sf_dir).toArrow()`` with a fresh plan
every time, as the repository's bench.py runs them, on the dbgen-derived
star fixture at sf0.01. The seed fixes the spec order of each pass. DuckDB
runs the oracle SQL of the same specs on the same parquet in the same run;
each Spark result is hash-compared against its oracle with the repository's
normalisation (tests/compare.py), outside the timed region.
"""

from __future__ import annotations

import random
import time

import check
import harness as H

#: bench specs, at least one per family (ann, clickbench, dedup, join,
#: stream, text, tpch)
SPECS = (
    "ann_ivf_topk",
    "cb_q29",
    "dedup_exact",
    "join_asof",
    "stream_tumbling_counts",
    "text_tfidf_topk",
    "tpch_q1",
    "tpch_q18_big_orders",
)
#: untimed passes before timing
WARM_PASSES = 2
FAMILIES = {"ann": "ann", "cb": "clickbench", "dedup": "dedup", "join": "join",
            "stream": "stream", "text": "text", "tpch": "tpch"}


def family(spec: str) -> str:
    return FAMILIES[spec.split("_", 1)[0]]


class Run:
    def __init__(self, ctx):
        self.ctx = ctx
        self.tally = H.Tally()
        self.stmts: list[dict] = []

    def setup(self):
        from universql_spark.queries import ensure_views
        from universql_spark.session import get_spark

        star = self.ctx.fixtures["star"]
        for i in range(H.SETUPS):
            if i:
                H.stop_spark()
                H.use_resident_dir(self.ctx.dirs.resident(i))
            t1 = time.perf_counter()
            spark = get_spark("perfbench_registry", sf_dir=star)
            t2 = time.perf_counter()
            ensure_views(spark, star)
            t3 = time.perf_counter()
            self.tally.setup_s.append(t3 - t1)
            if i == 0:
                self.tally.layers["session.spark_start_s"] = t2 - t1
                self.tally.layers["session.register_s"] = t3 - t2
        return spark

    def main(self) -> H.Tally:
        from tests.compare import duck_connection
        from universql_spark.queries import load_all

        ctx, tally = self.ctx, self.tally
        rng = random.Random(ctx.seed)
        star = ctx.fixtures["star"]
        registry = load_all()
        specs = {n: registry[n] for n in SPECS}
        # DuckDB oracles, timed before the JVM starts so the reference engine
        # never shares the cores with Spark
        tally.phase("duckdb")
        con = duck_connection(star)
        oracle = {}
        for name in SPECS:
            oracle[name], tally.duck[name] = H.duck_timed(con, specs[name].oracle)
        con.close()

        tally.phase("setup")
        spark = self.setup()
        sc = spark.sparkContext
        tally.phase("warm")

        t0 = time.perf_counter()
        pass_walls = []
        for _ in range(WARM_PASSES):
            t_pass = time.perf_counter()
            for name in rng.sample(SPECS, len(SPECS)):
                specs[name].spark(spark, star).toArrow()
            pass_walls.append(time.perf_counter() - t_pass)
        tally.layers["session.warm_s"] = time.perf_counter() - t0

        tally.phase("timed")
        tr = ctx.tracer
        last = {}
        passes = ctx.scale["passes"]
        n = 0
        for p in range(passes):
            traced = tr is not None and p == passes - 1
            if traced:
                tr.install()
                for spec in specs.values():
                    tr.wrap(spec, "spark", "queries.build")
            t_pass = time.perf_counter()
            for name in rng.sample(SPECS, len(SPECS)):
                n += 1
                rid = f"pb-{n}"
                sc.setJobGroup(rid, name)
                if traced:
                    tr.rid, calls0 = rid, tr.py4j_calls
                t0 = time.perf_counter()
                try:
                    tbl = specs[name].spark(spark, star).toArrow()
                except Exception as e:  # noqa: BLE001 - counted, the run goes on
                    tally.attempted += 1
                    tally.fail(name, e)
                    continue
                finally:
                    wall = time.perf_counter() - t0
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    if traced:
                        tr.rid = None
                tally.attempted += 1
                tally.record(name, wall)
                last[name] = tbl
                if traced:
                    self.stmts.append({"rid": rid, "kind": name, "wall": wall,
                                       "py4j": tr.py4j_calls - calls0, **H.job_counts(sc, rid)})
            pass_walls.append(time.perf_counter() - t_pass)
        tally.facts["pass_walls"] = [round(w, 3) for w in pass_walls]
        if tr is not None:
            tally.layers["trace.overhead_ratio"] = pass_walls[-1] / pass_walls[-2]

        tally.phase("checks")
        for name, tbl in last.items():
            if not check.same_rows(tbl, oracle[name]):
                tally.fail(name, "result differs from the DuckDB oracle")
        tally.phase("")

        if tr is not None:
            self._layers()
        return tally

    def _layers(self) -> None:
        tr, L, stmts = self.ctx.tracer, self.tally.layers, self.stmts
        n = max(1, len(stmts))
        rids = {s["rid"] for s in stmts}
        keep = lambda s: s["rid"] in rids  # noqa: E731
        self_s = tr.self_by_name(keep)
        total = {}
        for s in tr.spans:
            if s["end"] is not None and keep(s) and s["parent"] is None:
                total[s["name"]] = total.get(s["name"], 0.0) + s["end"] - s["start"]
        L["queries.build_ms"] = 1000.0 * total.get("queries.build", 0.0) / n
        L["queries.collect_ms"] = 1000.0 * total.get("spark.execute", 0.0) / n
        for layer in ("analyze", "execute", "write"):
            L[f"spark.{layer}_ms"] = 1000.0 * self_s.get(f"spark.{layer}", 0.0) / n
        H.per_stmt_counts(L, stmts)
        fam: dict[str, float] = {}
        for name, xs in self.tally.by_kind.items():
            L[f"spec.{name}_s"] = H.median(xs)
            fam[family(name)] = fam.get(family(name), 0.0) + H.median(xs)
        for f, v in fam.items():
            L[f"family.{f}_s"] = v
        L["duckdb.suite_s"] = sum(H.median(v) for v in self.tally.duck.values())


def run(ctx) -> H.Tally:
    return Run(ctx).main()
