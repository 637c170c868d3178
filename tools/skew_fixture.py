#!/usr/bin/env python3
"""Skew-stress fixture generator (VERDICT r8 missing #1 / next #2).

The driver fixtures are near-uniform in every key; nothing exercises a
hot key, which is exactly the input that breaks window/join plans at
scale. This writes a deliberately skewed fixture dir (default
/tmp/graft_skew) with the driver schemas:

  events    (~500k rows): Zipf-ish user_id — ONE user owns ~20% of all
            rows, the rest spread over ~5k users; ts spans 60 days.
  documents (~50k rows):  one 3-gram ("hotshingle0 hotshingle1
            hotshingle2") planted in ~40% of docs (corpus DF >> the
            l2c/l2d maxDf=100 cut); source src0 owns ~90% of rows
            (stresses the m4/m9/m10 sharded prefix sum).

Remaining tables are copied from /root/testdata/sf0.1 so every
SparkEntry query can run against the dir. Deterministic, seed=42.
Driver-side tooling only (pyarrow/numpy); the engine never depends on
this file. Consumed by `sbt "runMain graft.Diag skew-check"` -> SKEW_r{N}.json.
"""
import os, shutil, sys, json
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_skew"
SRC = "/root/testdata/sf0.1"
N_EVENTS = 500_000
N_DOCS = 50_000
N_USERS = 5_000

def events(rng):
    # hot user 0 owns ~20% of rows; the rest ~ Zipf over 5k users
    hot = rng.random(N_EVENTS) < 0.20
    zipf = rng.zipf(1.3, N_EVENTS) % N_USERS + 1
    user = np.where(hot, 0, zipf).astype(np.int64)
    span_us = 60 * 24 * 3600 * 1_000_000
    t0 = 1_700_000_000_000_000  # epoch micros
    ts = t0 + rng.integers(0, span_us, N_EVENTS)
    ts = np.sort(ts)  # event streams arrive roughly time-ordered
    types = np.array(["click", "purchase", "error", "signup", "view"])
    et = types[rng.integers(0, 5, N_EVENTS)]
    value = np.round(rng.random(N_EVENTS) * 1000, 3)
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)])
    tbl = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(et),
        "value": pa.array(value),
        "props": pa.array(props),
    })
    # Many row groups, like real data (~1 row group / 128 MB at scale).
    # A single-row-group file caps EVERY scan stage at one productive
    # task (byte-range splits without a row-group start read 0 rows) —
    # r9's j7 "ratio 202" reading was exactly this file-layout artifact,
    # not a plan problem (VERDICT r9 next #1, settled r10).
    pq.write_table(tbl, os.path.join(OUT, "events.parquet"),
                   row_group_size=N_EVENTS // 16)
    return {"rows": N_EVENTS, "hot_user_share": float(np.mean(user == 0))}

def documents(rng):
    langs = np.array(["en", "es", "fr", "de", "zh"])
    hot_sh = "hotshingle0 hotshingle1 hotshingle2"
    texts, srcs, lgs = [], [], []
    for i in range(N_DOCS):
        n = int(rng.integers(60, 140))
        toks = [f"w{int(v)}" for v in rng.integers(0, 200_000, n)]
        if rng.random() < 0.40:  # plant the hot shingle mid-document
            pos = int(rng.integers(0, len(toks)))
            toks[pos:pos] = hot_sh.split(" ")
        texts.append(" ".join(toks))
        srcs.append("src0" if rng.random() < 0.90
                    else f"src{int(rng.integers(1, 10))}")
        lgs.append(str(langs[int(rng.integers(0, 5))]))
    tbl = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lgs),
        "source": pa.array(srcs),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(tbl, os.path.join(OUT, "documents.parquet"),
                   row_group_size=N_DOCS // 16)
    hot_share = float(np.mean([hot_sh in t for t in texts]))
    src0 = float(np.mean([s == "src0" for s in srcs]))
    return {"rows": N_DOCS, "hot_shingle_share": hot_share, "src0_share": src0}

def main():
    os.makedirs(OUT, exist_ok=True)
    rng = np.random.default_rng(SEED)
    meta = {"seed": SEED, "events": events(rng), "documents": documents(rng)}
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "embeddings"]:
        shutil.copyfile(os.path.join(SRC, f"{t}.parquet"),
                        os.path.join(OUT, f"{t}.parquet"))
    with open(os.path.join(OUT, "skew_meta.json"), "w") as f:
        json.dump(meta, f, indent=2)
    print(json.dumps(meta))

if __name__ == "__main__":
    main()
