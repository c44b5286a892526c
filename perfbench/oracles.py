"""DuckDB oracles for the correctness gate. They read the same parquet the
engine was fed, never the engine's output, and run outside the timed calls.

Digests are order-independent: ``(row count, sum of the first 60 bits of
sha256 over each row's canonical string)``. For the replay workloads the row
is ``repo|path|commit_seq|sha256(content)``, so the gate proves per-row
content equality with the last-writer-wins state.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

# the same 60-bit row hash in DuckDB SQL and in Spark (perfbench.workloads)
_ROW_HASH_SQL = (
    "('0x' || substr(sha256(repo || '|' || path || '|' || CAST(commit_seq AS VARCHAR)"
    " || '|' || sha256(content)), 1, 15))::BIGINT"
)


def row_digest(rows) -> tuple[int, int]:
    """Digest of an iterable of tuples, hashed as their ``|``-joined strings."""
    n = total = 0
    for r in rows:
        n += 1
        total += int(hashlib.sha256("|".join(map(str, r)).encode()).hexdigest()[:15], 16)
    return n, total


class Oracle:
    def __init__(self, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute(f"SET threads={os.cpu_count() or 1}")

    def close(self) -> None:
        self.con.close()

    def register_log(self, log_dir: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW log AS SELECT * FROM read_parquet('{log_dir}/*.parquet')")

    def register_docs(self, docs_path: str, below: int) -> None:
        """The documents with ``doc_id < below``: the oracle signs every
        document in the view, so it holds only those the run touched."""
        self.con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs_path}') WHERE doc_id < {int(below)}"
        )

    def _lww(self, hi: int) -> str:
        return f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY commit_seq DESC) AS rn
          FROM log WHERE commit_seq < {int(hi)}
        ) WHERE rn = 1 AND op <> 'delete'"""

    def state_digest(self, hi: int) -> tuple[int, int]:
        """Digest of the last-writer-wins state of events ``commit_seq < hi``."""
        n, s = self.con.execute(
            f"SELECT count(*), coalesce(sum({_ROW_HASH_SQL}), 0) FROM ({self._lww(hi)})"
        ).fetchone()
        return int(n), int(s)

    def lookup(self, keys: list[tuple[str, str]], hi: int) -> set[tuple]:
        """``(repo, path, commit_seq, sha256(content))`` of the given keys."""
        self.con.execute("CREATE OR REPLACE TEMP TABLE lookup_keys (repo VARCHAR, path VARCHAR)")
        self.con.executemany("INSERT INTO lookup_keys VALUES (?, ?)", keys)
        rows = self.con.execute(
            f"SELECT w.repo, w.path, w.commit_seq, sha256(w.content) FROM ({self._lww(hi)}) w "
            "JOIN lookup_keys USING (repo, path)"
        ).fetchall()
        return {tuple(r) for r in rows}

    def feed_counts(self, lo: int, hi: int) -> dict[str, int]:
        """Net change counts of the epoch ``lo <= commit_seq < hi``: keys new
        to the table are inserts, the rest are updates (the log has no
        deletes, and every event in an epoch is newer than the table)."""
        new, old = self.con.execute(
            f"""
            WITH e AS (SELECT DISTINCT repo, path FROM log WHERE commit_seq >= {int(lo)} AND commit_seq < {int(hi)}),
                 b AS (SELECT DISTINCT repo, path FROM log WHERE commit_seq < {int(lo)})
            SELECT count(*) FILTER (WHERE b.repo IS NULL), count(*) FILTER (WHERE b.repo IS NOT NULL)
            FROM e LEFT JOIN b USING (repo, path)"""
        ).fetchone()
        out = {"insert": int(new), "update_preimage": int(old), "update_postimage": int(old)}
        return {k: v for k, v in out.items() if v}

    def sample_keys(self, hi: int, n: int, seed: int) -> list[tuple[str, str]]:
        rows = self.con.execute(
            f"SELECT DISTINCT repo, path FROM log WHERE commit_seq < {int(hi)} "
            f"ORDER BY hash(repo || path || '{int(seed)}'), repo, path LIMIT {int(n)}"
        ).fetchall()
        return [tuple(r) for r in rows]

    def pairs_digest(self, sql: str) -> tuple[int, int]:
        return row_digest(self.con.execute(sql).fetchall())
