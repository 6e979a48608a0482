"""Workload ``sql_interactive``: Snowflake SQL through the REST protocol.

One closed-loop client drives ``create_app(Engine(...)).test_client()`` in
process (no sockets): every statement is a ``/queries/v1/query-request``
in Arrow format, and the client fetches every result chunk. Two phases:

1. Reads, with ``USE_CACHED_RESULT = FALSE``: verbatim ClickBench texts over
   the ``hits2`` view, verbatim TPC-H texts (DuckDB's ``tpch_queries()``) on
   dbgen tables, and an extract of 60k rows with a timestamp column. The
   seed fixes the statement order of each pass.
2. Iceberg DML, with result reuse on: an Iceberg table on a per-run external
   volume takes seeded cycles. Each cycle INSERTs the next key range; every
   2nd cycle also UPDATEs and DELETEs by predicate, every 4th MERGEs (upsert)
   and every 6th OPTIMIZEs. After the writes come three distinct reads (one
   pruning-friendly) and the first read again, which is eligible for reuse.

Checks (untimed): TPC-H and extracts against DuckDB on the identical text,
ClickBench row counts equal across passes, and the Iceberg table and its
reads against a DuckDB mirror that ran the same statements (MERGE as
UPDATE ... FROM + INSERT).
"""

from __future__ import annotations

import json
import os
import random
import time

import check
import harness as H
from tools_tpch_verbatim import TABLES as TPCH_TABLES, compare

#: ClickBench statements (0-based lines of tests/clickbench_verbatim.sql)
CB_PICK = (2, 8, 12, 20, 28, 42)
#: TPC-H query numbers from DuckDB's tpch_queries()
TPCH_PICK = (1, 3, 5, 6, 10, 18)
EXTRACTS = {
    "extract_events": "SELECT event_id, ts, user_id, event_type, value FROM events WHERE event_id < 60000",
}
ICE_COLS = "event_id, ts, user_id, event_type, value"
#: rows of the initial Iceberg table; cycles then insert key ranges above it
ICE_BASE = 20_000
INSERT_ROWS = 1_500
#: untimed write cycles before timing (INSERT, UPDATE and DELETE run once each)
WARM_CYCLES = 2
#: untimed read passes before timing
WARM_PASSES = 2


class QueryFailed(RuntimeError):
    pass


class Client:
    """Snowflake REST client over Flask's in-process test client."""

    def __init__(self, app):
        self.http = app.test_client()
        r = self.http.post("/session/v1/login-request", json={"data": {}})
        token = r.get_json()["data"]["token"]
        self.headers = {"Authorization": f'Snowflake Token="{token}"'}

    def query(self, sql: str, rid: str) -> tuple[list[str], int]:
        """(base64 Arrow chunks, response bytes) for one statement."""
        r = self.http.post(
            f"/queries/v1/query-request?requestId={rid}",
            json={"sqlText": sql},
            headers=self.headers,
        )
        raw = r.get_data()
        body = json.loads(raw)
        if not body.get("success"):
            raise QueryFailed(body.get("message"))
        data = body["data"]
        parts, nbytes = [data["rowsetBase64"]], len(raw)
        for ch in data.get("chunks", ()):
            raw = self.http.get(ch["url"], headers=self.headers).get_data()
            nbytes += len(raw)
            parts.append(json.loads(raw)["data"]["rowsetBase64"])
        return parts, nbytes


def read_corpus(root: str) -> dict[str, str]:
    import duckdb

    with open(os.path.join(root, "tests", "clickbench_verbatim.sql")) as f:
        cb = [ln.strip().rstrip(";") for ln in f if ln.strip().upper().startswith("SELECT")]
    con = duckdb.connect()
    con.execute("LOAD tpch")
    tq = dict(con.execute("SELECT query_nr, query FROM tpch_queries()").fetchall())
    con.close()
    out = {f"cb_{i:02d}": cb[i] for i in CB_PICK}
    out.update({f"tpch_q{n:02d}": tq[n].rstrip().rstrip(";") for n in TPCH_PICK})
    out.update(EXTRACTS)
    return out


def dml_schedule(rng: random.Random, cycles: int, start_key: int) -> list[dict]:
    """Seeded write cycles: statements for Spark and for the DuckDB mirror.

    Every predicate falls inside one earlier INSERT batch, so each UPDATE,
    DELETE and filtered read touches the files of exactly one batch whatever
    the seed; the seed picks the batch, the offset and the event type."""
    hi = start_key
    batches: list[tuple[int, int]] = []
    out = []
    for c in range(1, cycles + 1):
        writes = []
        lo, hi = hi, hi + INSERT_ROWS
        batches.append((lo, hi))
        ins = f"INSERT INTO ev_ice SELECT {ICE_COLS} FROM events WHERE event_id >= {lo} AND event_id < {hi}"
        writes.append(("insert", ins, [ins]))
        if c % 2 == 0:
            b_lo, b_hi = rng.choice(batches)
            a = rng.randrange(b_lo, b_hi - 1_000)
            t = rng.choice(("view", "click", "purchase", "signup", "error"))
            up = (f"UPDATE ev_ice SET value = value + 1 WHERE event_type = '{t}' "
                  f"AND event_id >= {a} AND event_id < {a + 1_000}")
            writes.append(("update", up, [up]))
            b_lo, b_hi = rng.choice(batches)
            d = rng.randrange(b_lo, b_hi - 300)
            de = f"DELETE FROM ev_ice WHERE event_id >= {d} AND event_id < {d + 300}"
            writes.append(("delete", de, [de]))
        if c % 4 == 0:
            m_lo, m_hi = hi - 400, hi + 400
            src = f"(SELECT {ICE_COLS} FROM events WHERE event_id >= {m_lo} AND event_id < {m_hi})"
            merge = (
                f"MERGE INTO ev_ice t USING {src} s ON t.event_id = s.event_id "
                "WHEN MATCHED THEN UPDATE SET value = s.value * 2 "
                f"WHEN NOT MATCHED THEN INSERT ({ICE_COLS}) VALUES "
                "(s.event_id, s.ts, s.user_id, s.event_type, s.value)"
            )
            mirror = [
                f"UPDATE ev_ice SET value = s.value * 2 FROM {src} s WHERE ev_ice.event_id = s.event_id",
                f"INSERT INTO ev_ice SELECT * FROM {src} s WHERE s.event_id NOT IN (SELECT event_id FROM ev_ice)",
            ]
            writes.append(("merge", merge, mirror))
            hi = m_hi
        if c % 6 == 0:
            writes.append(("optimize", "OPTIMIZE ev_ice", []))
        b_lo, b_hi = rng.choice(batches)
        f = rng.randrange(b_lo, b_hi - 500)
        reads = [
            ("read_events", f"SELECT event_type, COUNT(*) AS n FROM events WHERE event_id < {hi} GROUP BY event_type"),
            ("read_ice_agg", "SELECT event_type, COUNT(*) AS n, MAX(value) AS mx FROM ev_ice GROUP BY event_type"),
            ("read_ice_filtered", f"SELECT {ICE_COLS} FROM ev_ice WHERE event_id >= {f} AND event_id < {f + 500}"),
        ]
        out.append({"writes": writes, "reads": reads, "filter": (f, f + 500)})
    return out


def _du(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(d, name))
    return total


class Run:
    def __init__(self, ctx):
        self.ctx = ctx
        self.tally = H.Tally()
        self.rid_n = 0
        self.traced = False
        self.stmts: list[dict] = []  # per traced statement: kind, wall, py4j, jobs...

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        from universql_spark.engine import Engine
        from universql_spark.protocol import create_app
        from universql_spark.session import get_spark, load_table

        star, tpch = self.ctx.fixtures["star"], self.ctx.fixtures["tpch"]
        for i in range(H.SETUPS):
            if i:
                H.stop_spark()
                H.use_resident_dir(self.ctx.dirs.resident(i))
            t1 = time.perf_counter()
            spark = get_spark("perfbench_sql", sf_dir=star)
            t2 = time.perf_counter()
            eng = Engine(spark=spark)
            load_table(spark, star, "events").createOrReplaceTempView("events")
            for t in TPCH_TABLES:
                spark.read.parquet(f"{tpch}/{t}.parquet").createOrReplaceTempView(t)
            app = create_app(eng)
            client = Client(app)
            t3 = time.perf_counter()
            self.tally.setup_s.append(t3 - t1)
            if i == 0:
                self.tally.layers["session.spark_start_s"] = t2 - t1
                self.tally.layers["session.register_s"] = t3 - t2
        self.spark, self.eng, self.app, self.client = spark, eng, app, client

    # -- statements ------------------------------------------------------------

    def run(self, kind: str, sql: str, timed: bool = True):
        """Execute one statement; returns its Arrow chunks or None on failure."""
        self.rid_n += 1
        rid = f"pb-{self.rid_n}"
        tr = self.ctx.tracer if self.traced else None
        if tr is not None:
            tr.rid = rid
            calls0 = tr.py4j_calls
        t0 = time.perf_counter()
        try:
            parts, nbytes = self.client.query(sql, rid)
        except Exception as e:  # noqa: BLE001 - a failed statement is counted, the run goes on
            if timed:
                self.tally.attempted += 1
                self.tally.fail(kind, e)
            return None
        finally:
            wall = time.perf_counter() - t0
            if tr is not None:
                tr.rid = None
        if timed:
            self.tally.attempted += 1
            self.tally.record(kind, wall)
            if tr is not None:
                self.stmts.append({"rid": rid, "kind": kind, "wall": wall, "bytes": nbytes,
                                   "py4j": tr.py4j_calls - calls0,
                                   **H.job_counts(self.spark.sparkContext, rid)})
        return parts

    # -- phases ----------------------------------------------------------------

    def main(self) -> H.Tally:
        import duckdb
        from tests.test_clickbench_verbatim import HITS2_VIEW

        ctx, tally = self.ctx, self.tally
        rng = random.Random(ctx.seed)
        corpus = read_corpus(ctx.root)
        passes, cycles = ctx.scale["passes"], ctx.scale["cycles"]

        # DuckDB on the identical texts, timed before the JVM starts so the
        # reference engine never shares the cores with Spark
        tally.phase("duckdb")
        duck = duckdb.connect()
        duck.execute(f"CREATE VIEW events AS SELECT * FROM '{ctx.fixtures['star']}/events.parquet'")
        for t in TPCH_TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.fixtures['tpch']}/{t}.parquet'")
        duck.execute(f"CREATE TABLE ev_ice AS SELECT {ICE_COLS} FROM events WHERE event_id < {ICE_BASE}")
        expected = {}
        for name, sql in corpus.items():
            if name.startswith("tpch_"):
                expected[name], tally.duck[name] = H.duck_timed(duck, sql)
            elif name.startswith("extract_"):
                expected[name] = duck.execute(sql).arrow()

        tally.phase("setup")
        self.setup()
        tally.phase("prologue")
        vol = ctx.dirs.volume
        for sql in (
            "ALTER SESSION SET USE_CACHED_RESULT = FALSE",
            HITS2_VIEW,
            "CREATE OR REPLACE EXTERNAL VOLUME pb_vol STORAGE_LOCATIONS = "
            f"((NAME='l1' STORAGE_PROVIDER='LOCAL' STORAGE_BASE_URL='file://{vol}'))",
            f"CREATE OR REPLACE ICEBERG TABLE ev_ice EXTERNAL_VOLUME='pb_vol' BASE_LOCATION='ev_ice' "
            f"AS SELECT {ICE_COLS} FROM events WHERE event_id < {ICE_BASE}",
        ):
            if self.run("prologue", sql, timed=False) is None:
                raise QueryFailed(f"prologue failed: {sql[:80]}")

        # warm-up (untimed): WARM_PASSES read passes and the first WARM_CYCLES write cycles
        tally.phase("warm")
        t0 = time.perf_counter()
        names = list(corpus)
        rows: dict[str, set[int]] = {}
        last: dict[str, list[str]] = {}
        pass_walls = []
        for _ in range(WARM_PASSES):
            t_pass = time.perf_counter()
            for name in rng.sample(names, len(names)):
                parts = self.run(name, corpus[name], timed=False)
                if parts is not None:
                    rows.setdefault(name, set()).add(check.decode(parts).num_rows)
            pass_walls.append(time.perf_counter() - t_pass)
        schedule = dml_schedule(rng, WARM_CYCLES + cycles, ICE_BASE)
        for cy in schedule[:WARM_CYCLES]:
            for _kind, sql, mirror in cy["writes"]:
                if self.run("warm", sql, timed=False) is None:
                    raise QueryFailed(f"warm-up write failed: {sql[:80]}")
                for m in mirror:
                    duck.execute(m)
            for _kind, sql in cy["reads"]:
                self.run("warm", sql, timed=False)
        tally.layers["session.warm_s"] = time.perf_counter() - t0
        schedule = schedule[WARM_CYCLES:]

        # phase 1: read passes
        tally.phase("reads")
        for p in range(passes):
            if ctx.tracer is not None and p == passes - 1:
                ctx.tracer.install(self.app)
                self.traced = True
            t0 = time.perf_counter()
            for name in rng.sample(names, len(names)):
                parts = self.run(name, corpus[name])
                if parts is not None:
                    last[name] = parts
                    rows.setdefault(name, set()).add(check.decode(parts).num_rows)
            pass_walls.append(time.perf_counter() - t0)
        tally.facts["pass_walls"] = [round(w, 3) for w in pass_walls]
        if ctx.tracer is not None:
            tally.layers["trace.overhead_ratio"] = pass_walls[-1] / pass_walls[-2]

        # phase 2: Iceberg DML cycles with result reuse on
        tally.phase("dml")
        self.run("prologue", "ALTER SESSION SET USE_CACHED_RESULT = TRUE", timed=False)
        snap = self.eng.snap_tables["ev_ice"]
        hits0 = self.eng.result_cache_hits
        pending: list[tuple[str, list[str], object]] = []
        plan = []
        for cy in schedule:
            for kind, sql, mirror in cy["writes"]:
                self.run(kind, sql)
                for m in mirror:
                    duck.execute(m)
            for kind, sql in cy["reads"] + cy["reads"][:1]:
                parts = self.run(kind, sql)
                if parts is not None:
                    pending.append((kind, parts, duck.execute(sql).arrow()))
            if self.traced:
                lo, hi = cy["filter"]
                t0 = time.perf_counter()
                planned = snap.plan_files([("event_id", ">=", lo), ("event_id", "<", hi)])
                plan.append((time.perf_counter() - t0, len(planned), len(snap.current_files())))
        hits = self.eng.result_cache_hits - hits0

        # checks (untimed)
        tally.phase("checks")
        for name, sizes in rows.items():
            if len(sizes) != 1 and name.startswith("cb_"):
                tally.fail(name, f"row counts differ across passes: {sorted(sizes)}")
        for name, want in expected.items():
            got = check.decode(last[name]) if name in last else None
            if name.startswith("tpch_"):
                same = got is not None and compare(got, want)[0]
            else:
                same = got is not None and check.same_table(got, want)
            if not same:
                tally.fail(name, "result differs from DuckDB")
        for kind, parts, duck_tbl in pending:
            if not check.same_table(check.decode(parts), duck_tbl):
                tally.fail(kind, "result differs from the DuckDB mirror")
        final = self.run("final", f"SELECT {ICE_COLS} FROM ev_ice", timed=False)
        final_tbl = check.decode(final) if final is not None else None
        if final_tbl is None or not check.same_table(final_tbl, duck.execute(f"SELECT {ICE_COLS} FROM ev_ice").arrow()):
            tally.fail("final", "Iceberg table differs from the DuckDB mirror")
        duck.close()
        tally.phase("")

        if self.traced:
            self._layers(snap, plan, hits, final_tbl)
        return tally

    # -- per-layer metrics (trace runs) -----------------------------------------

    def _layers(self, snap, plan, hits, final_tbl) -> None:
        tr, L, stmts = self.ctx.tracer, self.tally.layers, self.stmts
        n = max(1, len(stmts))
        rids = {s["rid"] for s in stmts}
        self_s = tr.self_by_name(lambda s: s["rid"] in rids)
        ms = lambda name: 1000.0 * self_s.get(name, 0.0) / n  # noqa: E731
        L["protocol.self_ms"] = ms("protocol.request")
        L["protocol.encode_ms"] = ms("protocol.encode")
        L["protocol.response_kb"] = sum(s["bytes"] for s in stmts) / n / 1024.0
        L["result.normalize_ms"] = ms("result.normalize")
        L["dialect.translate_ms"] = ms("dialect.translate")
        L["dialect.split_ms"] = ms("dialect.split")
        L["engine.self_ms"] = ms("engine.execute")
        L["spark.analyze_ms"] = ms("spark.analyze")
        L["spark.execute_ms"] = ms("spark.execute")
        L["spark.write_ms"] = ms("spark.write")
        H.per_stmt_counts(L, stmts)
        walls = lambda kinds: [s["wall"] for s in stmts if s["kind"] in kinds]  # noqa: E731
        writes = ("insert", "update", "delete", "merge", "optimize")
        reads = ("read_events", "read_ice_agg", "read_ice_filtered")
        for k in writes:
            L[f"iceberg.{k}_ms"] = 1000.0 * H.median(walls((k,)))
        w = walls(writes)
        L["write_p50_ms"] = 1000.0 * H.median(w)
        L["write_p90_ms"] = 1000.0 * H.quantile(w, 0.9)
        L["read_p50_ms"] = 1000.0 * H.median(walls(reads))
        write_rids = {s["rid"] for s in stmts if s["kind"] in writes}
        ice_self = tr.self_by_name(lambda s: s["rid"] in write_rids)
        L["iceberg.metadata_self_ms"] = 1000.0 * sum(
            v for k, v in ice_self.items() if k.startswith("iceberg.")
        ) / max(1, len(write_rids))
        inserts = self.tally.by_kind.get("insert", [])
        q = max(1, len(inserts) // 4)
        L["iceberg.commit_growth_ms"] = 1000.0 * (H.median(inserts[-q:]) - H.median(inserts[:q]))
        L["iceberg.plan_files_ms"] = 1000.0 * H.median([p[0] for p in plan])
        L["iceberg.files_planned_ratio"] = sum(p[1] for p in plan) / max(1, sum(p[2] for p in plan))
        repeats = self.tally.by_kind.get("read_events", [])[1::2]
        L["engine.result_reuse_ratio"] = hits / max(1, len(repeats))
        L["engine.reuse_hit_ms"] = 1000.0 * H.median(repeats)
        root = snap.root
        L["iceberg.snapshots"] = len(snap.snapshots())
        L["iceberg.live_files"] = len(snap.current_files())
        L["iceberg.delete_files"] = len(snap.current_delete_files())
        L["iceberg.metadata_kb"] = _du(os.path.join(root, "metadata")) / 1024.0
        L["iceberg.bytes_written_per_commit_kb"] = _du(root) / 1024.0 / max(1, L["iceberg.snapshots"])
        L["bytes_per_user_byte"] = _du(root) / max(1, final_tbl.nbytes) if final_tbl is not None else 0.0
        for name, xs in self.tally.by_kind.items():
            if name.startswith("tpch_q"):
                L[f"tpch.{name[5:]}_s"] = H.median(xs)
        L["duckdb.suite_s"] = sum(H.median(v) for v in self.tally.duck.values())


def run(ctx) -> H.Tally:
    return Run(ctx).main()
