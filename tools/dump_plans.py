"""Dump .explain('formatted') for named queries into a directory.

Usage: python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]

Run from any repo root (the round-start tree for *_before.txt, the
current tree for *_after.txt); writes <out_dir>/<query>_<suffix>.txt.
Queries whose builder runs side effects (streaming drains, snapshot
writes) still produce their final-plan explain — the iterative builders
additionally execute their construction-time jobs, which is inherent to
capturing their plans.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry

    from csv_to_jsonld_processor_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for name in names:
        if name not in qs:
            print(f"# unknown: {name}", file=sys.stderr)
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt")


if __name__ == "__main__":
    main()
