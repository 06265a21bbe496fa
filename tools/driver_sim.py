"""Driver simulation: plain session, neutral cwd, oracle loop over
queries() in the driver's order, using the Tier-1 comparison
(tests.oracle.assert_matches_oracle).

Usage: python tools/driver_sim.py [NAME ...] [--sf SF_DIR]
With no names, smoke-runs entry() and checks every query; with names,
checks only those.  SPARK_GRAFT_SIM_SLICE=start:count checks a slice
of the full loop (to split it across processes if the un-tuned 1 GiB
driver heap gets tight).
"""
import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod
from pyspark.sql import SparkSession

from tests.oracle import assert_matches_oracle


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="query names from queries() (default: all)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
                    help="sf dir (default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.01)")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    if args.names:
        qs = {n: qs[n] for n in args.names}
    else:
        df = entrymod.entry(spark)
        print(f"SMOKE entry(): rows={df.count()} schema={df.schema.simpleString()[:120]}")
        _slice = os.environ.get("SPARK_GRAFT_SIM_SLICE")
        if _slice:
            start, count = (int(x) for x in _slice.split(":"))
            qs = {n: qs[n] for n in list(qs)[start : start + count]}
    print(f"queries={len(qs)} oracles={len(osql)}")

    fails = []
    t0 = time.time()
    for i, name in enumerate(qs):
        tag = f"[{i+1}/{len(qs)}] {name}"
        try:
            sdf = qs[name](spark, args.sf)
            if name not in osql:
                print(f"{tag}: rows-only rows={len(sdf.collect())} OK")
                continue
            assert_matches_oracle(name, sdf, osql[name], args.sf)
            print(f"{tag}: OK")
        except AssertionError as e:
            fails.append(name)
            print(f"{tag}: FAIL {str(e)[:500]}")
        except Exception as e:
            fails.append(name)
            print(f"{tag}: EXCEPTION {e}")
            traceback.print_exc(limit=3)

    print(f"\nTOTAL {len(qs)} queries in {time.time()-t0:.1f}s; failures: {len(fails)}")
    for f in fails:
        print("FAIL:", f)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
