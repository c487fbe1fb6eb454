"""Regenerate ``expected.json``, the outputs the benchmark verifies against.

For every id of every workload it records the sorted columns, the row count
and the row digest of the DuckDB oracle's output on the committed fixture.
Rows-tier ids (no oracle) record the engine's row count only. Before
anything is written, each oracle output is compared with the engine's using
``tools/check.py``'s comparison; any difference aborts.

Usage, from the repository root:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import verify  # noqa: E402
from workloads import DATA_DIR, EXPECTED_PATH, WORKLOADS  # noqa: E402


def main() -> int:
    import big_data_management_and_analytics_spark as engine
    from big_data_management_and_analytics_spark.sources.session import get_spark

    check = verify.load_check_module()
    engine.load_all()
    registry = engine.all_queries()
    spark = get_spark("perfbench-expected")
    spark.sparkContext.setLogLevel("ERROR")
    con = check.duck_con(DATA_DIR)
    expected = {}
    bad = 0
    try:
        for qid in sorted(q for ids in WORKLOADS.values() for q in ids):
            engine_pd = registry[qid].fn(spark, DATA_DIR).toPandas()
            oracle = registry[qid].oracle
            if oracle is None:
                expected[qid] = {**verify.summarize(engine_pd, check.canon), "digest": None}
                print(f"ROWS  {qid}: {len(engine_pd)} rows (engine)")
                continue
            oracle_pd = con.execute(oracle).df()
            issues = check.compare(qid, engine_pd, oracle_pd)
            if issues:
                bad += 1
                print(f"FAIL  {qid}: " + "; ".join(issues[:3]))
                continue
            expected[qid] = verify.summarize(oracle_pd, check.canon)
            print(f"PASS  {qid}: {len(oracle_pd)} rows (oracle)")
    finally:
        spark.stop()
    if bad:
        print(f"{bad} ids differ from their oracle; {EXPECTED_PATH} left unchanged")
        return 1
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
