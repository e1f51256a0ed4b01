"""Driver-replica verify: run __spark_entry__ queries vs DuckDB oracles.

Usage: `cd /tmp && python <repo>/tools/verify_drive.py [sf_dir] [name ...]`
Defaults: sf_dir=/root/testdata/sf0.01, names = all registered oracles.
The checkout verified is the one this script lives in. Run it from a cwd
OUTSIDE the repo: module-level functions shipped to Python workers pickle
by reference, and only a non-repo cwd catches workers that cannot import
the package.

The gate is the full registry under three configs, one command:

    cd /tmp && for c in "" spark.sql.adaptive.enabled=false \
        spark.sql.exchange.reuse=false; do
      ADV_CONF="$c" python <repo>/tools/verify_drive.py || exit 1; done

Comparison is EXACTLY tests/oracle_util.py's strict canonicalization
(loaded from the same checkout, so the two can never drift): both sides go
through pandas, columns sort by name, ints stay ints (dtype mismatches are
caught), floats round at 6dp, NaN→None, rows repr-sorted.
"""

import importlib.util
import sys
from pathlib import Path

import duckdb

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

_spec = importlib.util.spec_from_file_location(
    "oracle_util", f"{REPO}/tests/oracle_util.py"
)
_ou = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_ou)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import os

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # Per-process warehouse: the managed-table queries (stream twins,
        # incremental dedup index) write fixed table names; two verify
        # processes sharing one spark-warehouse dir race each other's
        # create/drop (LOCATION_ALREADY_EXISTS / partial sinks — hit
        # when the round-9 adversarial sweeps ran concurrently).
        .config("spark.sql.warehouse.dir", f"/tmp/sparkwh_{os.getpid()}")
    )
    # Adversarial configs ("k=v;k=v"), e.g.
    #   ADV_CONF="spark.sql.adaptive.enabled=false" python verify_drive.py
    # The r5 generate-inlining and r6 range-partitioner bugs were both
    # default-green and wrong under a legal config.
    adv = os.environ.get("ADV_CONF", "")
    for kv in filter(None, adv.split(";")):
        k, _, v = kv.partition("=")
        print(f"ADV_CONF: {k}={v}", flush=True)
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    import __spark_entry__ as E

    ent = E.entry(spark)
    n = ent.count()
    print(f"entry: {n} rows", flush=True)
    assert n >= 0

    qs = E.queries()
    os_ = E.oracle_sql()
    names = sys.argv[2:] or list(os_)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = []
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            odf = con.execute(os_[name]).fetchdf()
            sc, oc = sorted(sdf.columns), sorted(odf.columns)
            sr, orr = _ou._canon(sdf), _ou._canon(odf)
            ok = (len(sr) == len(orr)) and (sc == oc) and (sr == orr)
            status = "OK" if ok else "MISMATCH"
            print(f"{name}: {status} spark={len(sr)} oracle={len(orr)}", flush=True)
            if not ok:
                bad.append(name)
                if sc != oc:
                    print(f"  cols spark={sc} oracle={oc}")
                else:
                    diff = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
                    for a, b in diff:
                        print(f"  spark={a[:200]}\n  duck ={b[:200]}")
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            print(f"{name}: ERROR {type(e).__name__}: {e}", flush=True)
    print(f"done: {len(names) - len(bad)}/{len(names)} green; bad={bad}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
