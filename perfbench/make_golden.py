"""Regenerate ``golden.json``: row count and digest of each pinned query
that has no DuckDB oracle, on the fixed analytics tables.

    python3 perfbench/make_golden.py

Run it only when such a query's output is meant to change, and say so
in the change that commits the new file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402
from perfbench.run import configure_env, stop_spark  # noqa: E402
from perfbench.workloads import AnalyticsPinned  # noqa: E402


def main() -> None:
    from mapreduce_llm_spark import registry
    from mapreduce_llm_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench", f"golden-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work, trace_on=False)
        wl = AnalyticsPinned(work, seed=0)
        wl.generate()
        spark = get_spark(app_name="perfbench-golden")
        try:
            wl.warm(spark)
            results, errors = wl.run_pass()
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if errors:
        sys.exit("\n".join(errors))
    golden = {
        name: checks.frame_digest(pdf)
        for name, pdf in sorted(results.items())
        if name not in registry.ORACLE
    }
    with open(os.path.join(os.path.dirname(__file__), "golden.json"), "w") as fh:
        json.dump(golden, fh, indent=1)
        fh.write("\n")
    print(json.dumps(golden))


if __name__ == "__main__":
    main()
