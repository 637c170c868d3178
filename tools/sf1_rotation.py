#!/usr/bin/env python3
"""sf1 spot-gate rotation ledger (VERDICT r16 item 4).

Usage:
  python3 tools/sf1_rotation.py <round> [--size 30] [--commit]
      [--inventory CORRECTNESS_rNN.json] [--branches BRANCHES_rNN.json]
      [--extra name ...]

Emits (stdout, JSON) the DETERMINISTIC sf1 spot-gate subset for the
round, plus the per-entry CHECK MODE, and — with --commit — appends the
round to tools/sf1_rotation_ledger.json so coverage is a mechanical
guarantee, not a per-round judgement call:

- ALWAYS-IN: the vacuity-risk class — every entry that carries at least
  one allowlisted (fixture-dependent) branch arm in the latest BRANCHES
  artifact. These are the entries whose branches can silently die at a
  different scale, so they re-prove liveness at sf1 every round.
- ROTATING: the remaining inventory in sorted-name order, windowed by a
  cursor that advances `stride = size - |risk| - |extra|` entries per
  round (`cursor = (round * stride) % rest`). Every entry provably
  cycles through within ceil(|rest| / stride) rounds; the ledger's
  `coverage` block states what fraction of the inventory has appeared
  in ANY recorded round.
- --extra: the round's new entries (always included).

CHECK MODES (the machine rule the r16 verdict asked for — prose no
longer adjudicates these at gate time):
- "exact"  — `runMain graft.Verify <sfDir> <outDir> <name...>` + check.py
  hash parity, the default.
- "band:REL" — sketch entries that leave exact estimation mode at the
  sf1 fixture scale (theta sketches are exact below 4096 retained keys;
  /tmp/graft_sf1's events carry ~15k distinct users). The gate runs
  check.py with --modes, which asserts every numeric cell within REL
  relative error instead of exact-hash. REL = 3x the sketch's published
  RSE (k5: 3 x 1.6% ~= 0.05).
- "oracle-quadratic:excluded" — entries whose DUCKDB ORACLE is a
  deliberate quadratic pair join (ratio_table.QUADRATIC_ORACLE): the
  oracle itself is infeasible at sf1, so the entry is excluded there
  until a linear-form twin replaces the oracle (VERDICT r16 item 8).

Driver-side tooling only — the engine never depends on this.
"""
import json, sys, os, glob, math

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
LEDGER = os.path.join(HERE, "sf1_rotation_ledger.json")

# Sketch entries that LEAVE exact estimation mode at the sf1 fixture
# scale -> error-band check, never exact-hash (BASELINE §8.13 documents
# the k5 boundary: 15000 distincts > the 4096-entry exact mode).
ESTIMATE_AT_SF1 = {"k5_theta_set_ops": "band:0.05"}

# Entries whose ORACLE (not the engine) is quadratic at sf1 — the
# engine side runs there and takes a rows-only check; includes
# pinned_sf_pair.SF1_QUADRATIC_SKIP (the embedding-cosine oracles).
# l4c_embedding_dedup_policy is l4b's r17 linear twin, hash-checked at
# sf1 (the l2g dump pattern).
QUADRATIC_ORACLE = {"l3_cosine_topk", "l4_cosine_threshold",
                    "l4b_embedding_dedup"}

# Entries whose sf1 exclusion is a property of the SCALE FIXTURE, not
# of any oracle: its x100 near-dup cliques make the verified TEXT pair
# set itself ~25M rows (BASELINE 8.8 — an OUTPUT property no exact
# algorithm avoids), and the per-pair token-set verify on top of that
# is the blow-up (measured r17: a single member held a 2-task straggler
# stage >17 min CPU before the run was cut; the embedding twins, whose
# per-pair cost is one 64-dim dot product, run in seconds). These are
# adjudicated BY MODE — never rotated into the sf1 window, never run
# there; their scale story is the SKEW gate (hot-shingle fixture) and
# the sf0.1 hashes. The whole text near-dup pair family:
FIXTURE_BOUND = {"l2_minhash_dedup", "l2b_simhash", "l2b2_simhash_dedup",
                 "l2c_shingle_jaccard", "l2d_containment",
                 "l2e_jaccard_dedup", "l2g_minhash_policy",
                 "l2h_simhash_policy", "l24_cross_source_overlap",
                 "l24b_overlap_matrix_dump", "m5_dedup_clusters",
                 "m5b_cluster_policy"}

def latest(pattern):
    files = sorted(glob.glob(os.path.join(REPO, pattern)))
    if not files:
        raise SystemExit(f"no artifact matching {pattern}")
    return files[-1]

def main():
    args = sys.argv[1:]
    if not args:
        raise SystemExit(__doc__)
    rnd = int(args[0])
    def opt(flag, default=None):
        return args[args.index(flag) + 1] if flag in args else default
    size = int(opt("--size", "30"))
    inventory_path = opt("--inventory", latest("CORRECTNESS_r*.json"))
    branches_path = opt("--branches", latest("BRANCHES_r*.json"))
    extra = []
    if "--extra" in args:
        i = args.index("--extra") + 1
        while i < len(args) and not args[i].startswith("--"):
            extra.append(args[i]); i += 1

    inventory = sorted(json.load(open(inventory_path)).keys())
    branches = json.load(open(branches_path))

    # vacuity-risk class: any entry with >=1 allowlisted arm
    risk = sorted(
        name for name, rec in branches.items()
        if isinstance(rec, dict) and any(
            str(a.get("status", "")).startswith("allowlisted")
            for a in rec.get("arms", []))
        and name in inventory)

    always = sorted((set(risk) | set(extra)) - FIXTURE_BOUND)
    # fixture-bound names can never be checked at sf1 — cycling them
    # through the window would waste slots on guaranteed skips
    rest = [n for n in inventory
            if n not in set(always) and n not in FIXTURE_BOUND]
    stride = max(1, size - len(always))
    cursor = (rnd * stride) % len(rest) if rest else 0
    rotating = [rest[(cursor + i) % len(rest)] for i in range(min(stride, len(rest)))]

    subset = always + rotating
    modes = {}
    for n in subset:
        if n in ESTIMATE_AT_SF1:
            modes[n] = ESTIMATE_AT_SF1[n]
        elif n in QUADRATIC_ORACLE:
            modes[n] = "oracle-quadratic:excluded"
        elif n in FIXTURE_BOUND:
            modes[n] = "fixture-pairset:excluded"
        else:
            modes[n] = "exact"

    ledger = {"rounds": {}, "params": {}}
    if os.path.exists(LEDGER):
        ledger = json.load(open(LEDGER))
    covered = set()
    for names in ledger.get("rounds", {}).values():
        covered.update(names)
    covered_after = covered | set(subset)

    out = {
        "round": rnd,
        "size": len(subset),
        "always_in_risk_class": risk,
        "extra": extra,
        "rotating": rotating,
        "cursor": cursor,
        "stride": stride,
        "cycle_rounds": math.ceil(len(rest) / stride) if rest else 0,
        "modes": modes,
        "coverage": {
            "inventory": len(inventory),
            "covered_before": len(covered & set(inventory)),
            "covered_after": len(covered_after & set(inventory)),
            "pct_after": round(
                100.0 * len(covered_after & set(inventory)) / len(inventory), 1),
        },
    }
    print(json.dumps(out, indent=1))

    if "--commit" in args:
        ledger.setdefault("rounds", {})[str(rnd)] = subset
        ledger["params"] = {"size": size, "stride": stride,
                            "inventory": os.path.basename(inventory_path),
                            "branches": os.path.basename(branches_path)}
        with open(LEDGER, "w") as f:
            json.dump(ledger, f, indent=1)
        modes_path = os.path.join("/tmp", f"sf1_modes_r{rnd}.json")
        with open(modes_path, "w") as f:
            json.dump(modes, f, indent=1)
        print(f"-- ledger updated: {LEDGER}; modes: {modes_path}",
              file=sys.stderr)

if __name__ == "__main__":
    main()
