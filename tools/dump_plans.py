"""Dump `.explain("formatted")` for a list of registered queries to
OUT_DIR/<name>_<suffix>.txt (guide §1: capture plan shape before and
after every optimization). OUT_DIR must lie outside the repository, so a
dump never lands in the tracked tree; plan shapes the engine depends on
are pinned as assertions in tests/test_plans.py instead. Usage:
    python tools/dump_plans.py OUT_DIR SUFFIX QUERY [QUERY...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from minio_iceberg_polaris_lakehouse_spark.registry import all_queries
from minio_iceberg_polaris_lakehouse_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, suffix, names = Path(sys.argv[1]).resolve(), sys.argv[2], sys.argv[3:]
    if out_dir.is_relative_to(REPO):
        sys.exit(f"OUT_DIR {out_dir} is inside the repository {REPO}; pick a path outside it")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    for name in names:
        df = registry[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = out_dir / f"{name}_{suffix}.txt"
        path.write_text(plan)
        print(f"{name}: {len(plan.splitlines())} lines -> {path}")


if __name__ == "__main__":
    main()
