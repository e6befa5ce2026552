#!/usr/bin/env python3
"""Rebuild the oracle answers shipped in ``data/oracles/``.

    python3 perfbench/ship_oracles.py

Run from the repository root after an oracle of ``dedup_minhash`` or
``dedup_clusters`` changes. Both compare all 12.5 million document pairs
of the sf0.1 fixtures. ``dedup_minhash``'s oracle runs as written (about
20 minutes in DuckDB on 4 vCPUs). ``dedup_clusters``' oracle evaluates
the same pairs inside a recursive query and did not finish within 40
minutes, so it runs with its ``pairs`` CTE replaced by the pairs of the
``dedup_minhash`` answer. That is the same set: both oracles build the
same shingles and keep a pair on the same predicate, which this script
checks on the oracle text before it substitutes.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

from conversadocs_spark.io import TABLES  # noqa: E402
from conversadocs_spark.plans import ORACLES  # noqa: E402
from run import FIXTURES, ensure_oracles, save_answer  # noqa: E402
from tests.oracle import _normalize  # noqa: E402


def _squash(text: str) -> str:
    return " ".join(text.split())


def clusters_from_pairs(pairs) -> tuple:
    """``dedup_clusters``' oracle over the given ``(id1, id2)`` pairs."""
    mh, cl = ORACLES["dedup_minhash"], ORACLES["dedup_clusters"]
    shingles = [_squash(q[q.index("SELECT doc_id"):q.index("FROM documents")]) for q in (mh, cl)]
    start, end = cl.index("pairs AS ("), cl.index("),\nnodes AS")
    body = _squash(cl[start:end])
    if (
        shingles[0] != shingles[1]
        or "FROM sh a JOIN sh b ON a.doc_id < b.doc_id" not in body
        or not body.endswith(_squash(mh[mh.index("WHERE"):]))
    ):
        raise SystemExit("dedup_clusters no longer pairs documents as dedup_minhash does")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/{t}.parquet'")
    con.execute("CREATE TABLE minhash_pairs (id1 BIGINT, id2 BIGINT)")
    con.executemany("INSERT INTO minhash_pairs VALUES (?, ?)", pairs)
    cur = con.execute(cl[:start] + "pairs AS (SELECT id1, id2 FROM minhash_pairs" + cl[end:])
    return _normalize([d[0] for d in cur.description], cur.fetchall())


def main() -> None:
    out = os.path.join(HERE, "data", "oracles")
    cols, rows = ensure_oracles(["dedup_minhash"])["dedup_minhash"]
    save_answer(os.path.join(out, "dedup_minhash.json"), "dedup_minhash", cols, rows)
    pairs = [(r[cols.index("id1")], r[cols.index("id2")]) for r in rows]
    save_answer(
        os.path.join(out, "dedup_clusters.json"), "dedup_clusters",
        *clusters_from_pairs(pairs),
    )


if __name__ == "__main__":
    main()
