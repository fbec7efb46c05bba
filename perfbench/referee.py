"""Independent last-writer-wins referee, computed with DuckDB.

It never calls the engine: the expected table is the highest-LSN event
per ``(repo, path)`` over every generated event, keeping keys whose
winning event is not a delete, with ``sha256(content)`` per row (the
judged invariant in BASELINE.json).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa


def lww(con: duckdb.DuckDBPyConnection, events: pa.Table, max_lsn: int | None = None):
    """Winning event per key, as a DuckDB relation over ``events``
    (optionally only events with ``lsn <= max_lsn``)."""
    where = "" if max_lsn is None else f"WHERE lsn <= {int(max_lsn)}"
    con.register("_events", events)
    return con.sql(
        f"""
        SELECT repo, path,
               arg_max(op, lsn) AS op, max(lsn) AS lsn,
               arg_max("commit", lsn) AS "commit", arg_max(lang, lsn) AS lang,
               arg_max(content, lsn) AS content, arg_max(ts, lsn) AS ts
        FROM _events {where}
        GROUP BY repo, path
        """
    )


class Referee:
    """Expected final state of one workload input."""

    def __init__(self, events: pa.Table):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        expected = lww(self.con, events).filter("op <> 'delete'").select(
            "repo, path, lsn, sha256(coalesce(content, '')) AS sha"
        ).arrow()
        self.con.register("expected", expected)
        self.live_rows = expected.num_rows

    def rows_for(self, keys: list[tuple[str, str]]) -> dict:
        """``{(repo, path): (lsn, sha)}`` for the live keys among ``keys``."""
        wanted = pa.table({
            "repo": [k[0] for k in keys], "path": [k[1] for k in keys],
        })
        self.con.register("_wanted", wanted)
        got = self.con.sql(
            "SELECT e.repo, e.path, e.lsn, e.sha FROM expected e "
            "JOIN (SELECT DISTINCT * FROM _wanted) w USING (repo, path)"
        ).fetchall()
        return {(r, p): (lsn, sha) for r, p, lsn, sha in got}

    def snapshot_mismatches(self, engine: pa.Table) -> dict:
        """Compare the engine snapshot (``repo, path, _lsn, _content_sha``)
        with the expected table: live-row count, duplicate keys and
        per-key ``(lsn, sha)`` equality."""
        self.con.register("engine", engine)
        n_engine, n_keys = self.con.sql(
            "SELECT count(*), count(DISTINCT (repo, path)) FROM engine"
        ).fetchone()
        differing = self.con.sql(
            """
            SELECT count(*) FROM expected x FULL OUTER JOIN engine g
              ON x.repo = g.repo AND x.path = g.path
            WHERE x.lsn IS DISTINCT FROM g._lsn
               OR x.sha IS DISTINCT FROM g._content_sha
            """
        ).fetchone()[0]
        return {
            "expected_rows": self.live_rows,
            "engine_rows": n_engine,
            "duplicate_keys": n_engine - n_keys,
            "differing_keys": differing,
        }

    def close(self) -> None:
        self.con.close()
