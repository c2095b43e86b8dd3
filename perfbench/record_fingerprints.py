"""Record the expected result fingerprint of every ``analytics_mix`` query.

    python3 perfbench/record_fingerprints.py

Run from the root of a checkout. Generates the fixed analytics dataset,
runs each query of the mix in Spark, cross-checks the result against the
query's DuckDB oracle through ``tests/oracle.py``, and writes the
fingerprints to ``perfbench/fingerprints.json``. Refuses to write when any
query disagrees with its oracle. Re-record only when the dataset generator
or the mix changes, never to make a failing run pass.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

ROOT = os.getcwd()


def main() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != here]
    from perfbench import analytics
    from qucosa_fcrepo_reportingdb_spark.session import get_spark
    from tests.oracle import compare, duckdb_connection

    data_dir = tempfile.mkdtemp(dir=ROOT, prefix=".perfbench_record-")
    spark = get_spark("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        analytics.generate_dataset(data_dir)
        con = duckdb_connection(data_dir)
        queries, oracles = analytics.registry(), analytics.oracles()
        out, bad = {}, []
        for _, name in analytics.MIX:
            df = queries[name](spark, data_dir)
            check = compare(df, con, oracles[name])
            status = "OK" if check["ok"] else "FAIL " + check.get("detail", "")
            print(f"{name:40s} rows={check['rows_spark']:6d} {status}")
            if not check["ok"]:
                bad.append(name)
            out[name] = analytics.fingerprint(df.toPandas())
        if bad:
            print(f"not written: {len(bad)} queries disagree with their "
                  f"oracle: {bad}", file=sys.stderr)
            return 1
        with open(analytics.FINGERPRINTS, "w") as fh:
            json.dump({"data_seed": analytics.DATA_SEED, "queries": out},
                      fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0
    finally:
        spark.stop()
        shutil.rmtree(data_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
