"""Determinism-under-parallelism probe.

The correctness driver builds its own SparkSession — its core count and
shuffle-partition setting are not ours.  Any query whose output depends
on parallelism (unseeded sampling, partition-order-dependent ties,
first()-style nondeterminism) would pass every local gate and still
hash-differently on the driver.  This probe canonicalizes and hashes
every registered query's output at sf0.001 under a given master /
shuffle-partition setting; run it twice with different settings and
diff the JSON:

    python tools/parallelism_probe.py "local[32]:32" /tmp/p32.json
    python tools/parallelism_probe.py "local[5]:7"  /tmp/p5.json
    python - <<'PY'
import json; a=json.load(open("/tmp/p32.json")); b=json.load(open("/tmp/p5.json"))
print([k for k in a if a[k]!=b[k]])
PY

Audits recorded in SCALE.md: parallelism —
local[32]:32 vs local[5]:7, all queries hash-identical, zero errors;
session timezone — UTC vs America/New_York at equal parallelism,
all queries hash-identical (the TIMESTAMP_NTZ discipline means no
output depends on the session zone)."""
import sys, os, json, hashlib, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import pandas as pd


def norm(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return f"{v:.6g}"
    if hasattr(v, "isoformat"): return v.isoformat()
    if isinstance(v, bytes): return v.hex()
    return str(v)


def main(argv):
    mode = argv[0]   # "master:shuffle_partitions[:session_tz]", e.g.
                     # "local[32]:32", "local[5]:7", or
                     # "local[16]:16:America/New_York" (timezone audit)
    parts = mode.split(":")
    master, sp = parts[0], parts[1]
    tz = parts[2] if len(parts) > 2 else "UTC"
    out_path = argv[1]

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", sp)
        .config("spark.ui.enabled","false")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.legacy.parquet.nanosAsLong","true")
        .config("spark.driver.memory","8g")
        .appName(f"ppar-{sp}").getOrCreate())

    from __spark_entry__ import SF_SMOKE_DIR
    from tmp_parquet_merge_spark.queries import REGISTRY

    res = {}
    for name, q in REGISTRY.items():
        try:
            df = q.build(spark, SF_SMOKE_DIR).toPandas()
            df = df[sorted(df.columns)]
            rows = sorted(tuple(norm(v) for v in r) for r in df.itertuples(index=False))
            h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
            res[name] = {"rows": len(rows), "hash": h}
        except Exception as e:
            res[name] = {"err": f"{type(e).__name__}: {e}"[:200]}
    json.dump(res, open(out_path, "w"), indent=0)
    print("done", len(res))


if __name__ == "__main__":
    main(sys.argv[1:])
