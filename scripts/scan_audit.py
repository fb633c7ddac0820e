#!/usr/bin/env python3
"""Registry-wide duplicated-scan audit (plan-only, no execution).

For every registry query, builds the DataFrame and counts parquet
scans per table plus Python-boundary nodes in the INITIAL physical
plan (explain formatted).  Flags queries whose plan scans the same
parquet table more than twice — the duplicated-subtree smell the r12
optimization round fixed in the headline suite (guide §2.4).

Plan-build only: no count()/noop, so shared-family materialization
caches are NOT triggered (queries that materialize at build time do
execute their boundary builds — that is their real build cost).

Usage: python3 scripts/scan_audit.py [sf_dir] [--min N]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from enclaveid_data_pipeline_spark.queries import REGISTRY  # noqa: E402
from enclaveid_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:]]
    min_dup = 3
    if "--min" in args:
        i = args.index("--min")
        min_dup = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("scan_audit")
    rows = []
    n_err = 0
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 - audit must survive one bad query
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            n_err += 1
            continue
        # Count `Scan parquet` NODE HEADERS (stable), and attribute
        # each to a table via the FIRST path of its own detail
        # block's Location line — long location lists are truncated
        # with '…' by explain, so parsing the whole bracket (the old
        # form) could under/mis-count (r12 advice).
        scans: Counter = Counter()
        for block in re.split(r"\n\(\d+\) ", plan):
            if not block.startswith("Scan parquet"):
                continue
            m = re.search(r"Location: \S+ \[([^,\]…]+)", block)
            table = (
                re.sub(r"\.parquet.*$", "", m.group(1).split("/")[-1])
                if m
                else "__unattributed__"
            )
            scans[table] += 1
        n_rdd = plan.count("Scan ExistingRDD")
        n_py = (
            plan.count("BatchEvalPython")
            + plan.count("ArrowEvalPython")
        )
        worst = max(scans.values(), default=0)
        rows.append((worst, name, dict(scans), n_rdd, n_py))
    rows.sort(reverse=True)
    for worst, name, scans, n_rdd, n_py in rows:
        if worst >= min_dup or n_py:
            print(
                f"{worst:2d}x  {name:40s} scans={scans} "
                f"rdd={n_rdd} py={n_py}"
            )
    print(f"# audited {len(rows)} queries at {sf_dir} ({n_err} errors)")
    spark.stop()
    # nonzero when any query failed plan analysis, so CI notices
    # instead of reading a silently shorter audit (r12 advice)
    return 1 if n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
