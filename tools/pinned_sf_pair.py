#!/usr/bin/env python3
"""DuckDB denominator for the pinned r10 subset at an arbitrary SF dir.

BASELINE §8 sf1 pinned-table protocol (VERDICT r14 item 7): the engine
side comes from `runMain graft.Diag bench-subset` on the same dir; this
script times the same queries' oracle SQL in embedded DuckDB under the §7
denominator protocol (5 reps, drop min/max, mean of middle 3; a first
rep >= 5 s stands alone), so the pinned ratio gets a scale point where plan
quality, not per-job constant overhead, moves the number.

Usage: pinned_sf_pair.py <sfDir> <verifyDirWithOracleJson> [out.json]

At the §8 fixture scale three pinned members' oracles are quadratic in
the embedding corpus (all-pairs / queries-x-corpus cosine joins:
l3_cosine_topk, l4_cosine_threshold, l4b_embedding_dedup — they ran
>80 CPU-minutes without finishing at sf1, the same blow-up class as
ratio_table's QUADRATIC_ORACLE set); they are excluded from the sf1
DuckDB denominator and listed in the output, so the paired sf1 table
reports 53 of 56 members on the denominator side and says so.
"""

SF1_QUADRATIC_SKIP = {"l3_cosine_topk", "l4_cosine_threshold",
                      "l4b_embedding_dedup"}
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ratio_table import PINNED_SUBSET_R10  # frozen membership, byte-for-byte


def main():
    sf_dir, verify_dir = sys.argv[1], sys.argv[2]
    out = sys.argv[3] if len(sys.argv) > 3 else None
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def duck_time(sql):
        t0 = time.time()
        con.execute(sql).fetchall()
        first = time.time() - t0
        if first >= 5.0:
            return first
        times = [first]
        for _ in range(4):
            t0 = time.time()
            con.execute(sql).fetchall()
            times.append(time.time() - t0)
        mid = sorted(times)[1:-1]
        return sum(mid) / len(mid)

    rows = {}
    total = 0.0
    skipped = []
    quad_skipped = []
    for name in PINNED_SUBSET_R10:
        sql = oracles.get(name)
        if not sql:
            skipped.append(name)
            continue
        if name in SF1_QUADRATIC_SKIP:
            quad_skipped.append(name)
            continue
        t = duck_time(sql)
        rows[name] = round(t, 4)
        total += t
        print(f"{name:28s} {t:8.3f} s", flush=True)
    res = {"sf_dir": sf_dir, "members_timed": len(rows),
           "members_skipped_no_oracle": skipped,
           "members_skipped_quadratic_oracle": quad_skipped,
           "duck_total_s": round(total, 3), "per_query": rows}
    print(json.dumps({k: res[k] for k in
                      ("sf_dir", "members_timed", "duck_total_s",
                       "members_skipped_no_oracle",
                       "members_skipped_quadratic_oracle")}))
    if out:
        with open(out, "w") as f:
            json.dump(res, f, indent=1)


if __name__ == "__main__":
    main()
