#!/usr/bin/env python3
"""Diff two Verify output dirs query by query: column names, column types
and value multisets. Two uses:

- run-to-run determinism: two independent Verify runs of one build
  (possibly different cpu counts) catch a nondeterministic query before
  the driver's hash compare does;
- refactor certification: Verify runs of two builds show that every
  query, including q40 which has no oracle, returns the same typed
  result, and, when both dirs hold `oracle_sql.json`, that every oracle
  is unchanged.

Usage: python3 tools/detcheck.py <outDirA> <outDirB>
"""
import json, os, sys
import duckdb


def rows(con, path):
    src = f"'{path}/*.parquet'"
    types = {r[0]: r[1] for r in
             con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()}
    got = con.execute(f"SELECT * FROM {src}")
    cols = [d[0] for d in got.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in got.fetchall():
        rr = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], [types[cols[i]] for i in idx], out


def oracle_diff(a, b):
    """Keys whose oracle SQL differs between the dirs' oracle_sql.json,
    or None when either dir lacks the file."""
    pa, pb = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if not (os.path.isfile(pa) and os.path.isfile(pb)):
        return None
    with open(pa) as fa, open(pb) as fb:
        oa, ob = json.load(fa), json.load(fb)
    return len(oa), sorted(k for k in oa.keys() | ob.keys()
                           if oa.get(k) != ob.get(k))


def main(a, b):
    con = duckdb.connect()
    # union of both runs: a query that FAILED in one run (Verify writes
    # no dir for it) must surface as a diff, not be silently skipped
    def dirs(root):
        return {n for n in os.listdir(root)
                if os.path.isdir(os.path.join(root, n))}
    names = sorted(dirs(a) | dirs(b))
    n_pass = n_fail = 0
    for name in names:
        pa, pb = os.path.join(a, name), os.path.join(b, name)
        if not os.path.isdir(pa) or not os.path.isdir(pb):
            missing = a if not os.path.isdir(pa) else b
            print(f"FAIL {name}: missing in {missing}")
            n_fail += 1
            continue
        ca, ta, ra = rows(con, pa)
        cb, tb, rb = rows(con, pb)
        if ca != cb:
            print(f"FAIL {name}: column mismatch {ca} vs {cb}")
            n_fail += 1
        elif ta != tb:
            bad = [(c, x, y) for c, x, y in zip(ca, ta, tb) if x != y]
            print(f"FAIL {name}: column types differ {bad}")
            n_fail += 1
        elif ra != rb:
            bad = [(x, y) for x, y in zip(ra, rb) if x != y][:3]
            print(f"FAIL {name}: {len(ra)} vs {len(rb)} rows, first diff: "
                  f"{bad}")
            n_fail += 1
        else:
            n_pass += 1
    oracles = oracle_diff(a, b)
    if oracles is not None:
        n_keys, differ = oracles
        if differ:
            print(f"FAIL oracle_sql.json: {len(differ)} keys differ: "
                  f"{', '.join(differ)}")
        else:
            print(f"oracle_sql.json: {n_keys} keys identical")
    print(f"== determinism: {n_pass} identical / {n_fail} differ ==")
    sys.exit(1 if n_fail or (oracles and oracles[1]) else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
