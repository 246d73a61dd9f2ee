"""Generate a NEAR-duplicate flood documents fixture (r13, VERDICT r12
#3): every source doc is replicated R times with a unique suffix token
per replica, so replicas are NOT exact copies (the md5 collapse cannot
remove them) but share almost their whole shingle set — every replica
group floods its LSH band buckets (hot-band candidate flood: R docs per
bucket → R·(R-1)/2 candidate pairs per source doc) and marks ~every
span as cross-doc repeated (the scrub occ-join worst case).

This is the adversarial complement of make_scaled_fixture.py, whose
identical replicas the exact-copy collapse removes by design.

Usage: python tools/make_flood_fixture.py [src_sf_dir] [dst_dir] [reps]
"""

from __future__ import annotations

import os
import sys

import duckdb


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/flood"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{src}/documents.parquet')"
    )
    con.execute(
        f"""
COPY (
  SELECT doc_id + r * (SELECT max(doc_id) + 1 FROM t) AS doc_id,
         text || ' xqzreplica' || r AS text,
         lang, source, n_chars + 12 AS n_chars
  FROM t, range({reps}) s(r)
) TO '{dst}/documents.parquet' (FORMAT PARQUET)
"""
    )
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{dst}/documents.parquet')"
    ).fetchone()[0]
    print("documents", n)


if __name__ == "__main__":
    main()
