"""The benchmark's workloads, each driving the engine only through its
public functions.

A workload is one closed-loop client. ``start`` prepares a fresh
SparkSession, ``step`` performs one unit of work (returning the ops it
ran), ``verify`` checks every recorded op against DuckDB afterwards, so
no check runs inside a timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from . import oracle
from .trace import MlMeter, Tracer


@dataclass
class Op:
    """One request the client sent: its kind, latency, input rows and
    whatever the correctness gate needs to re-check it later."""

    name: str
    kind: str  # "op" (a whole unit), "write", "read", or "check" (gate only)
    seconds: float
    rows: int = 0
    error: str | None = None
    check: dict = field(default_factory=dict)


class Arrivals:
    """Per-user arrivals: each new user's Takeout runs the recent and old
    branch DAGs with the mock model backends, overwrites that user's
    partitions, and runs the per-user session analytics query."""

    name = "arrivals"
    #: events per user as in the sf0.1 corpus (100,000 events over 1,500
    #: users in one 30-day window); a quarter of each user's events lie
    #: in the 11 months before the window, so the recency split has rows
    #: to drop (an assumption: the corpus has no history older than its
    #: window)
    sizes = {"users": 60, "corpus_events": 100_000, "corpus_users": 1500,
             "window_days": 30, "old_share": 0.25, "history_days": 335}
    query = "sessionize_learned_gap"

    def __init__(self, man: dict, work: str, tracer: Tracer):
        self.man, self.work, self.tr = man, work, tracer
        self.users = man["arrival_order"]
        self.out = os.path.join(work, "out")

    def user_dir(self, u: int) -> str:
        return os.path.join(self.man["dir"], "arrivals", f"u{u:06d}")

    def start(self, spark, ml: MlMeter) -> None:
        from enclaveid_data_pipeline_spark.plans.pipeline import (
            InterestsSpec,
            build_old_branch_pipeline,
            build_recent_branch_pipeline,
        )

        self.spark, self.ml = spark, ml
        self.recent = build_recent_branch_pipeline(self.ml.completion, self.ml.embedding)
        self.old = build_old_branch_pipeline(
            self.ml.completion, self.ml.embedding,
            InterestsSpec("general", "list interests", "refine interests"),
        )

    def step(self, i: int) -> list[Op]:
        from enclaveid_data_pipeline_spark.queries import REGISTRY
        from enclaveid_data_pipeline_spark.sources.readers import read_table
        from enclaveid_data_pipeline_spark.sources.writers import write_partitioned

        u = self.users[i % len(self.users)]
        d = self.user_dir(u)
        tr, spark = self.tr, self.spark
        op = Op("user", "op", 0.0, check={"user": u})
        t0 = time.perf_counter()
        with tr.span("user", "op", op_id=f"user-{u}"):
            try:
                with tr.span("read_table", "sources"):
                    ev = read_table(spark, d, "events")
                with tr.span("Pipeline.run", "plans", branch="recent"):
                    rec = self.recent.run({"events": ev})
                with tr.span("write_partitioned", "sources", table="sessions"):
                    write_partitioned(rec["session_embeddings"], f"{self.out}/sessions")
                with tr.span("Pipeline.run", "plans", branch="old"):
                    old = self.old.run({"events": ev})
                with tr.span("write_partitioned", "sources", table="interests"):
                    write_partitioned(old["interest_clusters"], f"{self.out}/interests")
                with tr.span(f"{self.query}.build", "queries"):
                    df = REGISTRY[self.query].fn(spark, d)
                with tr.span(f"{self.query}.exec", "queries"):
                    op.check["rows"] = ([f for f in df.columns], [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                op.error = f"{type(e).__name__}: {e}"[:300]
        op.seconds = time.perf_counter() - t0
        op.rows = self.man["events"][u]
        return [op]

    def stop(self) -> None:
        pass

    def begin_timed(self) -> None:
        self._files_before = file_sizes(self.out)

    def written(self) -> tuple[int, int]:
        return written_since(self._files_before, file_sizes(self.out))

    def layer_metrics(self, written: tuple[int, int]) -> dict:
        # partitions are overwritten in place: no versions to amplify
        return io_metrics(written, 0.0, 0.0)

    def verify(self, ops: list[Op]) -> None:
        """Each user's partitions against DuckDB over that user's events,
        and the analytics query against its registry oracle."""
        from enclaveid_data_pipeline_spark.queries import REGISTRY

        sql = REGISTRY[self.query].oracle
        for op in ops:
            if op.error:
                continue
            u = op.check["user"]
            d = self.user_dir(u)
            ev = os.path.join(d, "events.parquet")
            problem = oracle.rows_equal(
                *oracle.user_partition(f"{self.out}/sessions", u),
                *oracle.expected_user_sessions(ev))
            if problem is None:
                problem = oracle.rows_equal(
                    *oracle.user_partition(f"{self.out}/interests", u),
                    *oracle.expected_user_interests(ev, u))
                problem = problem and f"interests: {problem}"
            if problem is None:
                problem = oracle.rows_equal(*op.check["rows"],
                                            *oracle.registry_oracle(sql, d, ["events"]))
            if problem:
                op.error = f"user {u}: {problem}"


class Upsert:
    """Seeded CDC batches folded by ``versioned_snapshot_sink`` into a
    versioned orders snapshot. One unit is one client cycle: a batch,
    a pruned point and range read, a change-feed read over the batch,
    then a copy-on-write delete or update (alternating) on hot keys.

    The table and the stream's checkpoint outlive the SparkSession: the
    first set-up creates the table with the base load, every later one
    restarts the stream on it, as a restarted service would."""

    name = "upsert"
    #: the sf0.1 orders table and 500-row batches, each about 0.3% of
    #: it; Zipf(0.99) is YCSB's default key skew; the insert, update and
    #: delete shares (20/70/10) are an assumption
    sizes = {"orders": 150_000, "batches": 60, "batch_rows": 500, "key_skew": 0.99,
             "insert_share": 0.2, "delete_share": 0.1}
    schema = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string, seq long, op string")

    def __init__(self, man: dict, work: str, tracer: Tracer):
        self.man, self.work, self.tr = man, work, tracer
        self.batches = man["batch_paths"]
        self.hot = man["hot_keys"]
        self.q = None
        base = os.path.join(work, "upsert")
        self.table = os.path.join(base, "table")
        self.inbox = os.path.join(base, "inbox")
        self.checkpoint = os.path.join(base, "checkpoint")
        self.next_batch = 0
        #: every commit, (kind, version, prev, arg), for verify to fold
        self.log: list[tuple] = []
        self.delivered_bytes = 0

    def start(self, spark, ml: MlMeter) -> None:
        """Start the stream in a fresh session; the first start also
        creates the table from the base load."""
        from enclaveid_data_pipeline_spark.streaming.sinks import versioned_snapshot_sink

        self.spark, self.ml = spark, ml
        os.makedirs(self.inbox, exist_ok=True)
        self.q = versioned_snapshot_sink(
            spark.readStream.schema(self.schema).parquet(self.inbox),
            self.table, keys=("o_orderkey",), seq_cols=("seq",), op_col="op",
            stats_cols=("o_orderkey",), bloom_cols=("o_orderkey",),
            checkpoint_dir=self.checkpoint,
        )
        if self.next_batch == 0:
            self._deliver()

    def version(self) -> int:
        from enclaveid_data_pipeline_spark.sources.layout import current_snapshot

        return current_snapshot(self.table)

    def _deliver(self) -> Op:
        """Drop the next batch file into the stream's inbox and wait for
        the sink to commit it."""
        b = self.next_batch
        if b >= len(self.batches):
            raise RuntimeError("upsert ran out of generated batches")
        self.next_batch += 1
        src = self.batches[b]
        prev = self.version()
        seen = self._progress_ids()
        t = time.perf_counter()
        with self.tr.span("versioned_snapshot_sink.trigger", "streaming", batch=b):
            shutil.copy(src, os.path.join(self.inbox, os.path.basename(src)))
            self.q.processAllAvailable()
        dt = time.perf_counter() - t
        for p in self.q.recentProgress:
            if p["batchId"] not in seen:
                dur = p["durationMs"]
                self.tr.add("streaming.add_batch_ms", dur.get("addBatch", 0))
                self.tr.add("streaming.query_planning_ms", dur.get("queryPlanning", 0))
        v = self.version()
        self.log.append(("batch", v, prev, src))
        self.delivered_bytes += os.path.getsize(src)
        return Op("cdc_batch", "write", dt, rows=self.man["batch_rows"],
                  check={"version": v})

    def _progress_ids(self) -> set:
        return {p["batchId"] for p in self.q.recentProgress}

    def step(self, i: int) -> list[Op]:
        from pyspark.sql import functions as F

        from enclaveid_data_pipeline_spark.sources.layout import (
            delete_where,
            pruned_files,
            read_snapshot_pruned,
            snapshot_changes,
            update_where,
        )

        tr, spark = self.tr, self.spark
        ops: list[Op] = []

        def run(name: str, kind: str, fn, layer: str, **check) -> None:
            op = Op(name, kind, 0.0, check=check)
            t = time.perf_counter()
            with tr.span(name, "op", op_id=f"cycle-{i}-{name}"):
                try:
                    with tr.span(name, layer):
                        op.check["result"] = fn()
                except Exception as e:  # noqa: BLE001 - counted, not fatal
                    op.error = f"{type(e).__name__}: {e}"[:300]
            op.seconds = time.perf_counter() - t
            ops.append(op)

        def collect(df):
            return [c for c in df.columns], [tuple(r) for r in df.collect()]

        prev = self.version()
        try:
            with tr.span("cdc_batch", "op", op_id=f"cycle-{i}-cdc_batch"):
                ops.append(self._deliver())
        except Exception as e:  # noqa: BLE001
            ops.append(Op("cdc_batch", "write", 0.0, error=f"{type(e).__name__}: {e}"[:300]))
            return ops
        v = self.version()
        hot = self.hot[i % len(self.hot)]
        lo = (i * 997) % self.man["orders"]
        point = [("o_orderkey", "==", hot)]
        rng = [("o_orderkey", ">=", lo), ("o_orderkey", "<", lo + 200)]
        for name, preds in (("point_lookup", point), ("range_lookup", rng)):
            if tr.enabled:
                tr.add("sources.files_read", len(pruned_files(self.table, preds)[0]))
                tr.add("sources.lookups", 1)
            run(name, "read", lambda p=preds: collect(read_snapshot_pruned(spark, self.table, p)),
                "sources", version=v, preds=preds)
        run("snapshot_changes", "read",
            lambda: collect(snapshot_changes(spark, self.table, prev, v, keys=["o_orderkey"])),
            "sources", v_from=prev, v_to=v)
        keys = [self.hot[(i + j) % len(self.hot)] for j in range(1, 4)]
        preds = [("o_orderkey", "in", keys)]
        if i % 2:
            name, fn = "delete_where", lambda: delete_where(spark, self.table, preds)
        else:
            name, fn = "update_where", lambda: update_where(
                spark, self.table, preds, {"o_orderstatus": F.lit("X")})
        run(name, "write", fn, "sources")
        rep = ops[-1].check.get("result")
        if rep:
            tr.add("sources.files_rewritten", rep["files_rewritten"])
            self.log.append((name, rep["version"], v, keys))
        return ops

    def stop(self) -> None:
        if self.q is not None:
            self.q.stop()
            self.q = None

    def verify(self, ops: list[Op]) -> None:
        """Replay the delivered batches and DML in DuckDB, then compare
        every read with the fold at the version it read, and the final
        table with the final fold."""
        from enclaveid_data_pipeline_spark.sources.layout import read_snapshot

        fold = oracle.CdcFold()
        for kind, v, prev, arg in self.log:
            if kind == "batch":
                fold.fold_batch(v, prev, arg)
            elif kind == "delete_where":
                fold.delete(v, prev, arg)
            else:
                fold.update_status(v, prev, arg, "X")
        self.fold = fold
        for op in ops:
            if op.error or op.kind != "read":
                continue
            c = op.check
            if op.name == "snapshot_changes":
                want = fold.changes(c["v_from"], c["v_to"])
            else:
                where = " AND ".join(f"{col} {'=' if o == '==' else o} {val}"
                                     for col, o, val in c["preds"])
                want = fold.rows(c["version"], where)
            problem = oracle.rows_equal(*c["result"], *want)
            if problem:
                op.error = f"{op.name}@v{c.get('version', c.get('v_to'))}: {problem}"
        # compared inside DuckDB: sorting the 150,000 rows in Python takes seconds
        got = os.path.join(self.work, "final")
        read_snapshot(self.spark, self.table).write.parquet(got)
        ops.append(Op("final_state", "check", 0.0,
                      error=fold.mismatch(self.version(), got)))

    def begin_timed(self) -> None:
        self._files_before = file_sizes(self.table)
        self._delivered_before = self.delivered_bytes

    def written(self) -> tuple[int, int]:
        self._delivered_until = self.delivered_bytes
        return written_since(self._files_before, file_sizes(self.table))

    def layer_metrics(self, written: tuple[int, int]) -> dict:
        """Bytes written under the table per byte of change batches
        delivered meanwhile, and table bytes per byte of one compacted
        copy of the live rows (``verify`` has replayed the fold)."""
        delivered = self._delivered_until - self._delivered_before
        live = self.fold.compact_bytes(self.version(),
                                       os.path.join(self.work, "compact.parquet"))
        total = sum(size for size, _ in file_sizes(self.table).values())
        return io_metrics(written, written[0] / max(1, delivered), total / live)


def io_metrics(written: tuple[int, int], write_amp: float, space_amp: float) -> dict:
    return {
        "sources.bytes_written": (written[0], "bytes"),
        "sources.files_written": (written[1], "count"),
        "write_amp": (write_amp, "ratio"),
        "space_amp": (space_amp, "ratio"),
    }


def file_sizes(root: str) -> dict[int, tuple[int, str]]:
    """inode -> (size, name) of every file under ``root``. Inodes count a
    hardlinked file once (DML links the files it does not rewrite)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[st.st_ino] = (st.st_size, f)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, parquet files) of the files created between two listings."""
    new = [after[i] for i in after.keys() - before.keys()]
    return sum(s for s, _ in new), sum(1 for _, n in new if n.endswith(".parquet"))


WORKLOADS = {w.name: w for w in (Arrivals, Upsert)}
