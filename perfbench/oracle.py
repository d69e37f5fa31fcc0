"""The correctness gate: the repository's SQLite FTS5 oracle
(``tests/oracle.py``: same schema, triggers and ``search_bm25`` SQL) fed
the benchmark's documents and every update round, plus a tie-aware top-k
comparison.

A result matches when, position by position, its scores equal the
oracle's to 1e-9 relative and, within each run of equal scores, it holds
the same set of paths.  A tie run cut by the top-k limit only needs its
paths to come from the oracle's full tie run, because FTS5 and the engine
may break equal scores differently.
"""

from __future__ import annotations

import hashlib
import math

from tests.oracle import FTS5Oracle

from perfbench.workload import Round

REL_TOL = 1e-9

Hit = tuple[str, float]  # (path, score)


class ReplayOracle(FTS5Oracle):
    def load(self, docs) -> None:
        self.add_documents([d.row() for d in docs])

    def apply(self, rnd: Round) -> None:
        """Replay one update round through the FTS5 triggers."""
        c = self.conn
        for d in rnd.deleted:
            c.execute("DELETE FROM documents WHERE path = ?", (d.key,))
        for d in rnd.modified:
            c.execute(
                "UPDATE documents SET content = ?, md5_hash = ?, file_size = ?"
                " WHERE path = ?",
                (
                    d.content,
                    hashlib.md5(d.content.encode()).hexdigest(),
                    len(d.content),
                    d.key,
                ),
            )
        c.commit()
        self.load(rnd.added)

    def expected(self, query: str, k: int) -> list[Hit]:
        """Oracle hits for ``query``: at least the top ``k``, extended to
        the end of the tie run at position ``k``."""
        limit = k + 16
        while True:
            rows = [(r[1], r[4]) for r in self.search_bm25(query, top_k=limit)]
            if len(rows) < limit or not _tied(rows[-1][1], rows[min(k, len(rows)) - 1][1]):
                return rows
            limit *= 4


def _tied(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL)


def compare(got: list[Hit], expected: list[Hit], k: int) -> str | None:
    """None when ``got`` (the engine's top-k, best first) matches the
    oracle's ``expected`` hits; otherwise what differs."""
    n = min(k, len(expected))
    if len(got) != n:
        return f"{len(got)} hits, oracle has {n}"
    for i in range(n):
        if not _tied(got[i][1], expected[i][1]):
            return f"score at rank {i + 1}: {got[i][1]!r} != {expected[i][1]!r}"
    start = 0
    while start < n:
        end = start + 1
        while end < len(expected) and _tied(expected[end][1], expected[start][1]):
            end += 1
        mine = {p for p, _ in got[start : min(end, n)]}
        theirs = {p for p, _ in expected[start:end]}
        if len(mine) != min(end, n) - start or not mine <= theirs:
            return f"paths at ranks {start + 1}-{min(end, n)} differ"
        start = end
    return None

