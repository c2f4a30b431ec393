"""Result digests in tools/diff.py's canonical form: columns sorted by name,
each value rendered by diff.py's canon(), rows in result order."""
import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from diff import canon  # noqa: E402


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256("\x1f".join(cols[i] for i in order).encode())
    for r in rows:
        h.update(b"\n" + "\x1f".join(canon(r[i]) for i in order).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def digest_relation(rel):
    return digest([d[0] for d in rel.description], rel.fetchall())


def digest_parquet(directory):
    """Digest of a Spark result directory, read through DuckDB as diff.py reads it."""
    con = duckdb.connect()
    return digest_relation(con.execute(
        f"SELECT * FROM read_parquet('{directory}/*.parquet')"))
