"""One-line physical-plan health summary per verify key: exchange count,
join strategies, pushdown and Python boundaries, at sf0.01.

Run: python tools/plan_audit.py [key ...]   (default: every registered key)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dodo_spark import registry  # noqa: E402
from dodo_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("plan_audit", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    sf = "/root/testdata/sf0.01"

    for name in sys.argv[1:] or sorted(qs):
        df = qs[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        flags = []
        if "CartesianProduct" in plan: flags.append("CARTESIAN")
        if "BatchEvalPython" in plan: flags.append("ROW_PYTHON_UDF")
        if re.search(r"PushedFilters: \[\]", plan) and "Filter" in plan: flags.append("NO_PUSHDOWN")
        if "SortMergeJoin" in plan: flags.append("SMJ")
        if "BroadcastHashJoin" in plan: flags.append("BHJ")
        if "BroadcastNestedLoopJoin" in plan: flags.append("BNLJ")
        if "ArrowEvalPython" in plan: flags.append("PANDAS_UDF")
        n_ex = plan.count("Exchange")
        print(f"{name:28s} exch={n_ex:2d}  {' '.join(flags)}")


if __name__ == "__main__":
    main()
