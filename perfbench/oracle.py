"""Independent DuckDB results the benchmark checks the engine against.

Nothing here imports the engine except the registry's ``oracle_sql``
text, which is the engine's own published contract for each query.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np

HEX_HIGH = "('8','9','a','b','c','d','e','f')"


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return "null" if v is None else repr(v)


def rows_equal(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """Order-insensitive comparison of two result sets over the same
    column names; None when equal, else a short reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} != {len(rows_b)}"
    order = sorted(cols_a)
    ia = [cols_a.index(c) for c in order]
    ib = [cols_b.index(c) for c in order]
    a = sorted(tuple(_norm(r[i]) for i in ia) for r in rows_a)
    b = sorted(tuple(_norm(r[i]) for i in ib) for r in rows_b)
    if a != b:
        bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"first differing row: {a[bad]} != {b[bad]}"
    return None


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def registry_oracle(sql: str, table_dir: str, tables: list[str]) -> tuple[list[str], list[tuple]]:
    """Run a registry ``oracle_sql`` over the parquet tables of ``table_dir``."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    return query(con, sql)


def _mock_dim(seed: int, expr: str) -> str:
    """SQL replay of the deterministic mock embedding (md5 digit count)."""
    return (f"(len(list_filter(list_transform(generate_series(1, 8), "
            f"k -> substr(md5('{seed}|' || {expr}), k, 1)), "
            f"c -> c IN {HEX_HIGH}))::DOUBLE / 4.0 - 1.0)")


def expected_user_sessions(events_path: str) -> tuple[list[str], list[tuple]]:
    """The recent branch's embedded sessions for one user, relationally:
    the last three months of events, per-day chunks of 15 in (ts,
    event_id) order, one mock session per chunk summarizing its
    (hour, title)-sorted lines, and the mock embedding of its
    description."""
    emb = ", ".join(_mock_dim(j, "description") for j in range(8))
    sql = f"""
    WITH ev AS (SELECT * FROM read_parquet('{events_path}')),
    recent AS (
        SELECT * FROM ev
        WHERE ts > (SELECT max(ts) FROM ev) - INTERVAL 3 MONTH
    ), numbered AS (
        SELECT user_id, event_id, event_type,
               strftime(ts, '%Y-%m-%d') AS date_s,
               strftime(ts, '%H:%M') AS hour_s,
               row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                                  ORDER BY ts, event_id) AS rn
        FROM recent
    ), chunked AS (
        SELECT *, CAST(floor((rn - 1) / 15) AS BIGINT) AS chunk_id FROM numbered
    ), ordered AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, date_s, chunk_id
                                     ORDER BY hour_s, event_type, event_id) AS ord
        FROM chunked
    ), sess AS (
        SELECT user_id, date_s, chunk_id, CAST(0 AS BIGINT) AS session_idx,
               min(hour_s) AS time_start, max(hour_s) AS time_end,
               count(*) || ' events starting with ' || arg_min(event_type, ord)
                   AS description,
               list_sort(list_distinct(list(event_type))) AS interests
        FROM ordered GROUP BY user_id, date_s, chunk_id
    )
    SELECT *, [{emb}] AS embedding FROM sess
    """
    return query(duckdb.connect(), sql)


def user_partition(table_dir: str, user_id: int):
    """Rows of one ``user_id=`` partition written by the engine, with
    the partition value restored as a column."""
    glob = f"{table_dir}/user_id={user_id}/*.parquet"
    return query(duckdb.connect(),
                 f"SELECT CAST({user_id} AS BIGINT) AS user_id, * "
                 f"FROM read_parquet('{glob}', hive_partitioning = false)")


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5, _M64 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int) -> int:
    """The XXH64 hash of ``data`` (unsigned), as published by its
    author; Spark's ``xxhash64`` chains it over the columns."""
    n, i = len(data), 0

    def lane(k: int, w: int = 8) -> int:
        return int.from_bytes(data[k:k + w], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_xxh_round(v[j], lane(i + 8 * j)) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _xxh_round(0, lane(i)), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (lane(i, 4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = (_rotl(h ^ (b * _P5 & _M64), 11) * _P1) & _M64
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def spark_xxhash64(user_id: int, text: str) -> int:
    """Spark SQL's ``xxhash64(long, string)``: seed 42, each column's
    hash seeding the next, read back as a signed long."""
    h = xxh64(user_id.to_bytes(8, "little", signed=True), 42)
    h = xxh64(text.encode("utf-8"), h)
    return h - (1 << 64) if h >= 1 << 63 else h


def expected_user_interests(events_path: str, user_id: int,
                            threshold: float = 0.5, min_size: int = 2):
    """The old branch's interest clusters for one user. The mock
    completion names each chunk's event types, so the user's interest
    rows are the distinct (day, event type) pairs over all their events;
    ``interest_id`` hashes (user, interest), each interest is embedded
    by the mock, and interests whose cosine similarity reaches
    ``threshold`` are linked. A linked component of at least
    ``min_size`` rows is labelled with its smallest id, any other row
    with -1."""
    emb = ", ".join(_mock_dim(j, "event_type") for j in range(8))
    _, rows = query(duckdb.connect(), f"""
        SELECT event_type, [{emb}] FROM (
            SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d, event_type
            FROM read_parquet('{events_path}'))""")
    ids = [spark_xxhash64(user_id, t) for t, _ in rows]
    vecs = np.array([v for _, v in rows], dtype=np.float64).reshape(len(rows), 8)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]
    root = list(range(len(rows)))

    def find(x: int) -> int:
        while root[x] != x:
            x = root[x]
        return x

    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if float(unit[i] @ unit[j]) >= threshold:
                a, b = find(i), find(j)
                root[max(a, b)] = min(a, b)
    members: dict[int, list[int]] = {}
    for i in range(len(rows)):
        members.setdefault(find(i), []).append(i)
    label = [-1] * len(rows)
    for group in members.values():
        if len(group) >= min_size:
            for i in group:
                label[i] = min(ids[k] for k in group)
    return (["user_id", "interest_id", "cluster_label"],
            [(user_id, ids[i], label[i]) for i in range(len(rows))])


class CdcFold:
    """Latest-wins replay of the CDC stream and the DML applied between
    batches, one committed version at a time, in DuckDB."""

    KEY = "o_orderkey"

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.states: dict[int, str] = {}
        self._n = 0

    def _save(self, version: int, sql: str) -> None:
        name = f"v{self._n}"
        self._n += 1
        self.con.execute(f"CREATE TABLE {name} AS {sql}")
        self.states[version] = name

    def fold_batch(self, version: int, prev: int | None, batch_path: str) -> None:
        cur = (f"SELECT *, 'U' AS op FROM {self.states[prev]}" if prev is not None
               else None)
        src = f"SELECT * FROM read_parquet('{batch_path}')"
        union = f"{cur} UNION ALL BY NAME {src}" if cur else src
        self._save(version, f"""
            SELECT * EXCLUDE (op, __rn) FROM (
                SELECT *, row_number() OVER (PARTITION BY {self.KEY}
                                             ORDER BY seq DESC) AS __rn
                FROM ({union}))
            WHERE __rn = 1 AND op <> 'D'""")

    def delete(self, version: int, prev: int, keys: list[int]) -> None:
        self._save(version, f"SELECT * FROM {self.states[prev]} "
                            f"WHERE {self.KEY} NOT IN ({','.join(map(str, keys))})")

    def update_status(self, version: int, prev: int, keys: list[int], status: str) -> None:
        self._save(version, f"""
            SELECT * REPLACE (CASE WHEN {self.KEY} IN ({','.join(map(str, keys))})
                                   THEN '{status}' ELSE o_orderstatus END AS o_orderstatus)
            FROM {self.states[prev]}""")

    def rows(self, version: int, where: str = "TRUE"):
        return query(self.con, f"SELECT * FROM {self.states[version]} WHERE {where}")

    def mismatch(self, version: int, parquet_dir: str) -> str | None:
        """Compare the parquet files in ``parquet_dir`` with the fold at
        ``version`` as multisets of rows; None when equal."""
        got = f"read_parquet('{parquet_dir}/*.parquet')"
        want = self.states[version]
        cols = [d[0] for d in self.con.execute(f"SELECT * FROM {got} LIMIT 0").description]
        ref = [d[0] for d in self.con.execute(f"SELECT * FROM {want} LIMIT 0").description]
        if sorted(cols) != sorted(ref):
            return f"columns {sorted(cols)} != {sorted(ref)}"
        sel = ", ".join(sorted(cols))
        extra, missing = self.con.execute(f"""
            SELECT (SELECT count(*) FROM (SELECT {sel} FROM {got}
                                          EXCEPT ALL SELECT {sel} FROM {want})),
                   (SELECT count(*) FROM (SELECT {sel} FROM {want}
                                          EXCEPT ALL SELECT {sel} FROM {got}))""").fetchone()
        if extra or missing:
            return f"{extra} rows not in the fold, {missing} fold rows missing"
        return None

    def changes(self, v_from: int, v_to: int):
        """insert/delete/update_pre/update_post rows between two versions."""
        a, b = self.states[v_from], self.states[v_to]
        cols = [d[0] for d in self.con.execute(f"SELECT * FROM {b} LIMIT 0").description]
        diff = " OR ".join(f"f.{c} IS DISTINCT FROM t.{c}" for c in cols if c != self.KEY)
        sel_f = ", ".join(f"f.{c}" for c in cols)
        sel_t = ", ".join(f"t.{c}" for c in cols)
        sql = f"""
            SELECT {sel_t}, 'insert' AS change_type FROM {b} t
              WHERE t.{self.KEY} NOT IN (SELECT {self.KEY} FROM {a})
            UNION ALL
            SELECT {sel_f}, 'delete' FROM {a} f
              WHERE f.{self.KEY} NOT IN (SELECT {self.KEY} FROM {b})
            UNION ALL
            SELECT {sel_f}, 'update_pre' FROM {a} f JOIN {b} t USING ({self.KEY})
              WHERE {diff}
            UNION ALL
            SELECT {sel_t}, 'update_post' FROM {a} f JOIN {b} t USING ({self.KEY})
              WHERE {diff}"""
        return query(self.con, sql)

    def compact_bytes(self, version: int, path: str) -> int:
        """Size of one snappy parquet copy of the live rows at ``version``."""
        self.con.execute(f"COPY {self.states[version]} TO '{path}' "
                         f"(FORMAT parquet, COMPRESSION snappy)")
        return os.path.getsize(path)
