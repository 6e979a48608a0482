"""Run isolation, engine set-up, calibration probes, memory and clean-up.

Everything a run writes lives under its own directory inside the checkout
(`RunDirs`): the engine's resident layout, Spark's local dirs, the SQL
warehouse, the Iceberg external volume and the JVM's temp dir. The directory
is removed when the run ends, so no run inherits another's resident layout
and set-up time always includes building it.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import time

#: set-ups per run; setup_s is their median. Only the first starts the JVM,
#: so it is also reported alone as cold_setup_s.
SETUPS = 3


class RunDirs:
    def __init__(self, root: str):
        self.root = root
        self.local = os.path.join(root, "spark-local")
        self.warehouse = os.path.join(root, "warehouse")
        self.volume = os.path.join(root, "volume")
        self.tmp = os.path.join(root, "tmp")
        for d in (self.local, self.warehouse, self.volume, self.tmp):
            os.makedirs(d, exist_ok=True)

    def resident(self, i: int) -> str:
        return os.path.join(self.root, f"resident-{i}")

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def prepare_env(dirs: RunDirs, cpus: int) -> None:
    """Must run before pyspark or universql_spark is imported."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = dirs.local
    os.environ["SPARK_GRAFT_RESIDENT_DIR"] = dirs.resident(0)
    os.environ["TMPDIR"] = dirs.tmp
    # keep the JVMs' temp files (and no perf-data files) inside the run dir
    jvm_opts = f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{jvm_opts}' pyspark-shell"


def redirect_warehouse(path: str) -> None:
    """The session factory pins one warehouse dir shared by every process;
    point the builder's value at the run's own directory instead (the path is
    the only thing changed)."""
    from pyspark.sql import SparkSession

    orig = SparkSession.Builder.config

    def config(self, key=None, value=None, conf=None, *, map=None):
        if key == "spark.sql.warehouse.dir":
            value = path
        return orig(self, key, value, conf, map=map)

    SparkSession.Builder.config = config


def use_resident_dir(path: str) -> None:
    """Fresh resident-layout directory for the next registration."""
    from universql_spark import session

    session.RESIDENT_DIR = path


def stop_spark() -> None:
    """Stop the active SparkContext; the JVM stays up for the next set-up."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile (stmt_p50_ms, stmt_p90_ms): a
    Beta-weighted average of all order statistics. Unlike a single order
    statistic it does not jump across the gaps between statement kinds when
    one sample moves."""
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cells = 20_000
    mid = (np.arange(cells) + 0.5) / cells
    logp = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logp - logp.max()))))
    cdf /= cdf[-1]
    edges = cdf[np.round(np.arange(n + 1) / n * cells).astype(int)]
    return float(np.diff(edges) @ x)


# -- calibration (the same probes as the repository's bench.py) -------------


def spin() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i * i
    return time.perf_counter() - t0


def duck_calib(lineitem_parquet: str) -> float:
    import duckdb

    con = duckdb.connect()
    try:
        q = (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity), "
            "sum(l_extendedprice), count(*) "
            f"FROM read_parquet('{lineitem_parquet}') "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        )
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(q).fetchall()
            best = min(best, time.perf_counter() - t0)
        return best
    finally:
        con.close()


#: DuckDB repetitions per statement after one untimed run (median reported)
DUCK_REPS = 7


def duck_timed(con, sql: str):
    """(Arrow result, wall seconds of DUCK_REPS runs) after one warm run."""
    out = con.execute(sql).arrow()
    times = []
    for _ in range(DUCK_REPS):
        t0 = time.perf_counter()
        con.execute(sql).arrow()
        times.append(time.perf_counter() - t0)
    return out, times


# -- Spark job accounting (trace runs) -----------------------------------------


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs if (ji := st.getJobInfo(j)) is not None for s in ji.stageIds]
    tasks = sum(si.numTasks for s in stages if (si := st.getStageInfo(s)) is not None)
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def per_stmt_counts(layers: dict[str, float], stmts: list[dict]) -> None:
    """Mean jobs, stages, tasks and Py4J calls per traced statement."""
    n = max(1, len(stmts))
    for key, field in (("spark.jobs_per_stmt", "jobs"), ("spark.stages_per_stmt", "stages"),
                       ("spark.tasks_per_stmt", "tasks"), ("py4j.calls_per_stmt", "py4j")):
        layers[key] = sum(s[field] for s in stmts) / n


# -- memory and processes ----------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus the JVM child."""
    kb = _status_kb(os.getpid(), "VmHWM")
    pid = jvm_pid()
    if pid is not None:
        kb += _status_kb(pid, "VmHWM")
    return kb / 1024.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_all(timeout: float = 30.0) -> None:
    """Stop Spark, the JVM and every process this run started; wait for each."""
    procs = descendants(os.getpid())
    try:
        stop_spark()
    except Exception:  # noqa: BLE001 - clean-up must go on
        pass
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            if getattr(gw, "proc", None) is not None:
                gw.proc.stdin.close()
                gw.proc.terminate()
                gw.proc.wait(timeout)
    except Exception:  # noqa: BLE001
        pass
    procs += [p for p in descendants(os.getpid()) if p not in procs]
    deadline = time.monotonic() + timeout
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    for pid in procs:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        while _alive(pid) and time.monotonic() < deadline + 5:
            time.sleep(0.05)


class Tally:
    """Per-run outcome: attempts, failures and timed samples by statement kind."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: every timed statement's wall seconds, in run order
        self.samples: list[float] = []
        #: statement kind -> wall seconds (suite_s sums their medians)
        self.by_kind: dict[str, list[float]] = {}
        #: statement kind -> DuckDB wall seconds on the identical text
        self.duck: dict[str, list[float]] = {}
        self.setup_s: list[float] = []
        #: per-layer values (trace runs) and run facts for the record line
        self.layers: dict[str, float] = {}
        self.facts: dict[str, object] = {}
        self._phase: tuple[str, float] | None = None

    def phase(self, name: str) -> None:
        """Mark the start of a run phase; the record line lists their walls."""
        now = time.perf_counter()
        phases = self.facts.setdefault("phases", {})
        if self._phase is not None:
            phases[self._phase[0]] = round(now - self._phase[1], 3)
        self._phase = (name, now) if name else None

    def record(self, kind: str, seconds: float) -> None:
        self.samples.append(seconds)
        self.by_kind.setdefault(kind, []).append(seconds)

    def fail(self, what: str, why: object) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {str(why)[:300]}")

    def suite_s(self) -> float:
        return sum(median(v) for v in self.by_kind.values())

    def duckdb_ratio(self) -> float:
        spark = sum(median(self.by_kind[k]) for k in self.duck)
        duck = sum(median(v) for v in self.duck.values())
        return spark / duck if duck else 0.0
