"""Bare-session oracle check, run the way an external caller of the
``__spark_entry__.py`` contract runs it (insertion order, sf0.01, DuckDB
oracles, sorted-column multiset compare). Prints PASS/FAIL per query and one JSON line
{"n": ..., "bad": [...], "rows_only": [...]}; exit 1 on any mismatch.

    python tools/driver_sim.py               # the first-50 query window
    python tools/driver_sim.py name1 name2   # those queries, any position

Run the window form after ANY edit that can touch a windowed query's
runtime path. In the names form every query must have oracle SQL.

See .claude/skills/verify/SKILL.md; normalization mirrors
tests/test_oracle_parity.py."""
import datetime as _dt, json, math, os, sys, time
from collections import Counter
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

spark = (SparkSession.builder.master("local[8]")
         .appName("driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
df = e.entry(spark)
assert len(df.collect()) > 0, "entry smoke failed"
qs, osql = e.queries(), e.oracle_sql()
names = sys.argv[1:] or list(qs)[:50]
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def _norm(v):
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v

results = {}
for name in names:
    t0 = time.time()
    try:
        if sys.argv[1:] and (name not in qs or name not in osql):
            raise KeyError(f"{name}: not a registered oracle query")
        sdf = qs[name](spark, SF)
        cols = sorted(sdf.columns)
        srows = Counter(tuple(_norm(r[c]) for c in cols)
                        for r in sdf.select(*cols).collect())
        if name not in osql:
            # lenient rows-only leg (driver parity); excluded from `bad`
            # below — the rotation-ledger test already forbids oracle-less
            # window queries, so this only fires if that guard is relaxed
            results[name] = {"rows_only": sum(srows.values()), "err": None}
            print(f"ROWS {name} {results[name]}", flush=True)
            continue
        res = con.execute(osql[name])
        dnames = [d[0] for d in res.description]
        order = sorted(range(len(dnames)), key=lambda i: dnames[i])
        dcols = [dnames[i] for i in order]
        drows = Counter(tuple(_norm(row[i]) for i in order)
                        for row in res.fetchall())
        results[name] = {
            "rows_match": sum(srows.values()) == sum(drows.values()),
            "schema_match": cols == dcols,
            "hash_match": srows == drows,
            "spark_rows": sum(srows.values()),
            "oracle_rows": sum(drows.values()),
            "s": round(time.time() - t0, 1),
            "err": None}
    except Exception as ex:
        results[name] = {"err": f"{type(ex).__name__}: {ex}"[:300]}
    r = results[name]
    ok = r.get("hash_match") and r.get("schema_match")
    print(("PASS " if ok else "FAIL ") + name, r, flush=True)

bad = [n for n, r in results.items()
       if r.get("err") or ("rows_only" not in r
                           and not (r.get("hash_match") and r.get("schema_match")
                                    and r.get("rows_match")))]
# an oracle-less window query must never ride silently on a green run —
# surface the list and FAIL the process if any exist (the rotation-ledger
# test forbids them; this is the bare-session backstop)
rows_only = [n for n, r in results.items() if "rows_only" in r]
print(json.dumps({"n": len(results), "bad": bad, "rows_only": rows_only}))
sys.exit(1 if (bad or rows_only) else 0)
