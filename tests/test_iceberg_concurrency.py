"""Optimistic-commit concurrency for the Iceberg table format.

The reference's tables are catalog-managed Iceberg, where concurrent
writers resolve through the optimistic protocol: build new metadata
against a base version, attempt an atomic swap, and on losing the race
re-read + rebase (appends) or validate + fail (conflicting rewrites).
This file pins that protocol on our pure-Python HadoopCatalog layout
(version-hint + vN.metadata.json), with DETERMINISTIC interleavings:
two IcebergTable instances on the same root play the two writers, and
the race window (load -> commit) is forced by committing through writer
B after writer A has read its base state.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from universql_spark.iceberg_format import CommitConflict, IcebergTable


def _mk(spark, tmp_path):
    df = spark.range(20).select(
        "id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    return IcebergTable.create(str(tmp_path / "t"), df)


def _rows(spark, t):
    return {r["id"] for r in t.read(spark).select("id").collect()}


def test_concurrent_appends_both_survive(spark, tmp_path):
    """Writer A loads, writer B commits an append, then A commits its own
    append: A's CAS against the stale base version must FAIL, and its retry
    must rebase so both appends land — no lost update."""
    a = _mk(spark, tmp_path)
    b = IcebergTable(a.root)

    ext = spark.range(100, 103).select("id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v"))
    ext2 = spark.range(200, 205).select("id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v"))

    # Force the interleaving: A's first commit attempt must run against a
    # base version B has already superseded. append() loads fresh inside its
    # retry loop, so the race is staged by making A's _load trigger B's
    # commit exactly once.
    orig_load = a._load
    fired = {"done": False}

    def racy_load():
        d = orig_load()  # A reads (and records) its base version...
        if not fired["done"]:
            fired["done"] = True
            b.append(ext)  # ...then B wins the next version
        return d

    a._load = racy_load
    a.append(ext2)
    a._load = orig_load

    final = IcebergTable(a.root)
    assert _rows(spark, final) == set(range(20)) | {100, 101, 102} | set(range(200, 205))
    ops = [s["operation"] for s in final.snapshots()]
    assert ops == ["append", "append", "append"]  # create + B + A (rebased)


def test_version_files_are_cas_protected(spark, tmp_path):
    """The loser of a version race must never clobber the winner's metadata
    file: each committed version number appears exactly once and the chain
    v1..vN is gapless."""
    a = _mk(spark, tmp_path)
    b = IcebergTable(a.root)
    ext = spark.range(50, 52).select("id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v"))
    a.append(ext)
    b.append(spark.range(60, 62).select("id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v")))
    meta_dir = os.path.join(a.root, "metadata")
    versions = sorted(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    assert versions == list(range(1, len(versions) + 1))
    assert a.current_version() == versions[-1]


def test_rewrite_conflict_raises(spark, tmp_path):
    """A copy-on-write DELETE whose target files were concurrently rewritten
    must raise CommitConflict instead of resurrecting or double-deleting
    rows (Iceberg's snapshot-isolation validation)."""
    a = _mk(spark, tmp_path)
    b = IcebergTable(a.root)

    orig_load = a._load
    fired = {"done": False}

    def racy_load():
        d = orig_load()
        if not fired["done"]:
            fired["done"] = True
            # B rewrites every file A is about to commit against
            b.update_where(spark, F.col("id") >= 0, {"v": "v + 1000"})
        return d

    # A's delete computes affected files, then hits B's rewrite at commit
    affected = a._affected_files(spark, F.col("id") < 5)
    assert affected
    a._load = racy_load
    with pytest.raises(CommitConflict):
        a._commit_delta("delete", added=[], removed=affected)
    a._load = orig_load

    # B's update is intact; A's failed commit changed nothing
    final = IcebergTable(a.root)
    assert final.read(spark).filter(F.col("v") >= 1000).count() == 20


def test_append_rebases_over_delete(spark, tmp_path):
    """An append racing a delete commits fine (it removes nothing), landing
    on top of the delete's snapshot."""
    a = _mk(spark, tmp_path)
    b = IcebergTable(a.root)

    orig_load = a._load
    fired = {"done": False}

    def racy_load():
        d = orig_load()
        if not fired["done"]:
            fired["done"] = True
            b.delete_where(spark, F.col("id") < 10)
        return d

    a._load = racy_load
    a.append(spark.range(300, 302).select("id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v")))
    a._load = orig_load

    final = IcebergTable(a.root)
    assert _rows(spark, final) == set(range(10, 20)) | {300, 301}


def test_hint_lag_rolls_forward(spark, tmp_path):
    """A stale version hint (writer crashed between version-file publication
    and hint swap) must not wedge later readers or writers: current_version
    rolls forward to the highest committed version."""
    a = _mk(spark, tmp_path)
    a.append(spark.range(70, 72).select("id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v")))
    v = a.current_version()
    with open(os.path.join(a.root, "metadata", "version-hint.text"), "w") as f:
        f.write("1")  # simulate the crash: hint points at v1
    fresh = IcebergTable(a.root)
    assert fresh.current_version() == v
    assert _rows(spark, fresh) == set(range(20)) | {70, 71}
    # and the next commit continues the chain past the real head
    fresh.append(spark.range(80, 81).select("id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v")))
    assert fresh.current_version() == v + 1


def test_concurrent_mor_deletes_conflict(spark, tmp_path):
    """Two merge-on-read DELETEs racing: the loser's tombstone commit must
    not silently drop the winner's delete files."""
    a = _mk(spark, tmp_path)
    a.set_property("write.delete.mode", "merge-on-read")
    b = IcebergTable(a.root)

    # Fire B's delete in A's load->commit window: A has already captured its
    # base delete-file set, so B's tombstones land between A's read and A's
    # commit — exactly the lost-tombstone hazard the validation must catch.
    orig_cd = a._commit_delta

    def racy_commit(*args, **kwargs):
        b.delete_where(spark, F.col("id") == 7)
        return orig_cd(*args, **kwargs)

    a._commit_delta = racy_commit
    with pytest.raises(CommitConflict):
        a.delete_where(spark, F.col("id") == 3)
    a._commit_delta = orig_cd

    final = IcebergTable(a.root)
    assert _rows(spark, final) == set(range(20)) - {7}


def test_mor_delete_conflicts_with_concurrent_compaction(spark, tmp_path):
    """A merge-on-read DELETE whose scanned data files are compacted away
    before its tombstone commit must raise CommitConflict (Iceberg's
    validateDataFilesExist): the new positional deletes reference paths no
    longer in the snapshot, so committing them would silently resurrect the
    'deleted' rows. The compaction leaves the delete-file set unchanged
    (empty), so only data-file liveness can catch this."""
    a = _mk(spark, tmp_path)
    a.append(
        spark.range(100, 110).select(
            "id", (F.col("id") % 4).alias("g"), (F.col("id") * 1.5).alias("v")
        )
    )
    a.set_property("write.delete.mode", "merge-on-read")
    b = IcebergTable(a.root)

    orig_cd = a._commit_delta

    def racy_commit(*args, **kwargs):
        n_before, n_after = b.compact(spark, target_files=1)
        assert n_after < n_before  # the race partner really rewrote files
        return orig_cd(*args, **kwargs)

    a._commit_delta = racy_commit
    with pytest.raises(CommitConflict):
        a.delete_where(spark, F.col("id") == 3)
    a._commit_delta = orig_cd

    # the delete failed LOUDLY: row 3 is still present, compaction intact
    final = IcebergTable(a.root)
    assert _rows(spark, final) == set(range(20)) | set(range(100, 110))
    assert len(final.current_files()) == 1


def test_two_engine_processes_share_warehouse_dml(tmp_path):
    """r8 (ADVICE follow-through): two LIVE engine processes sharing the
    warehouse dir run COW DML concurrently on their own tables — both
    succeed, neither's data is disturbed, and neither reclaims the other's
    locations (the pid-registry guard refuses while both live). The child
    is a REAL process with its own SparkSession/Engine."""
    import subprocess
    import sys
    import textwrap

    child_code = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, "/root/repo")
        from universql_spark.engine import Engine
        from universql_spark.session import get_spark

        eng = Engine(spark=get_spark("guard_child", cpus=4))
        eng.execute("CREATE OR REPLACE TABLE guard_child_t AS "
                    "SELECT 1 AS id, 'x' AS v UNION ALL SELECT 2, 'y'")
        eng.execute("UPDATE guard_child_t SET v = 'z' WHERE id = 2")
        rows = sorted(r["v"] for r in
                      eng.execute("SELECT v FROM guard_child_t").to_pylist())
        assert rows == ["x", "z"], rows
        eng.execute("DROP TABLE guard_child_t")
        print("CHILD_OK", flush=True)
        """
    )
    p = subprocess.Popen(
        [sys.executable, "-c", child_code],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    # parent DML on ITS table while the child engine lives
    from universql_spark.engine import Engine
    from universql_spark.session import get_spark

    eng = Engine(spark=get_spark("universql_spark_tests", cpus=8))
    eng.execute("CREATE OR REPLACE TABLE guard_parent_t AS "
                "SELECT 1 AS id, 10 AS n UNION ALL SELECT 2, 20")
    eng.execute("UPDATE guard_parent_t SET n = n + 1")
    out, err = p.communicate(timeout=300)
    assert b"CHILD_OK" in out, err.decode()[-2000:]
    rows = sorted(r["n"] for r in
                  eng.execute("SELECT n FROM guard_parent_t").to_pylist())
    assert rows == [11, 21]
    eng.execute("DROP TABLE guard_parent_t")
