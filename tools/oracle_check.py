#!/usr/bin/env python3
"""Local pre-check of SparkEntry oracle parity: run after graft.Verify.

Usage: oracle_check.py [sf_dir] [verify_out_dir]
Mimics the driver: run each oracle SQL in DuckDB over the same parquet
tables, sort columns by name, compare row count / schema / values.
Then re-checks Verify's scan_ledger.json, when present: every query
with a non-empty `over_budget` object is listed, followed by a count.
"""
import os, sys, json, math
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out_dir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f'{out_dir}/oracle_sql.json'))
n_ok = 0
for name in sorted(oracle):
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        print(f'{name}: ORACLE-SQL-ERROR {e}')
        continue
    try:
        got = pd.read_parquet(f'{out_dir}/{name}')
    except Exception as e:
        print(f'{name}: SPARK-OUT-MISSING {e}')
        continue
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        print(f'{name}: SCHEMA-MISMATCH exp={list(exp.columns)} got={list(got.columns)}')
        continue
    if len(exp) != len(got):
        print(f'{name}: ROWCOUNT exp={len(exp)} got={len(got)}')
        continue
    bad = None
    ev, gv = exp.values.tolist(), got.values.tolist()
    for i, (ra, rb) in enumerate(zip(ev, gv)):
        for j, (a, b) in enumerate(zip(ra, rb)):
            try:
                both_na = bool(pd.isna(a)) and bool(pd.isna(b))
            except (TypeError, ValueError):
                both_na = False
            same = both_na or (a == b) or (
                isinstance(a, float) and isinstance(b, float)
                and math.isnan(a) and math.isnan(b))
            if not same:
                bad = (i, exp.columns[j], a, b)
                break
        if bad: break
    if bad:
        i, c, a, b = bad
        print(f'{name}: VALUE-MISMATCH row={i} col={c} oracle={a!r} spark={b!r}')
        # dtype hint
        print(f'    dtypes oracle={exp.dtypes[c]} spark={got.dtypes[c]}')
    else:
        n_ok += 1
        print(f'{name}: OK ({len(exp)} rows)')

ledger_path = f'{out_dir}/scan_ledger.json'
if os.path.exists(ledger_path):
    ledger = json.load(open(ledger_path))
    flagged = 0
    for name in sorted(ledger):
        over = ledger[name].get('over_budget', {})
        if over:
            flagged += 1
            print(f'{name:<28} OVER-BUDGET {json.dumps(over, sort_keys=True)}')
    print(f"{flagged} over-budget quer{'y' if flagged == 1 else 'ies'} in {ledger_path}")
print(f'== {n_ok}/{len(oracle)} OK ==')
