"""Dump explain('formatted') for named queries into plans/<ROUND>/ with a
suffix (_before/_after) — an optimization round's plan-evidence files.

Usage: PYTHONPATH=<tree> python scripts/dump_round_plans.py ROUND SUFFIX q1 q2 ...
  e.g. PYTHONPATH=. python scripts/dump_round_plans.py r17 before q_percentiles

The plans come from the package found on PYTHONPATH (so a second
checkout can be dumped for comparison); the files always land in this
repository's plans/<ROUND>/.
Env: SPARK_GRAFT_SF_DIR (required) — the testdata scale directory to plan
against; use the sf0.1 corpus for plans at bench scale."""
import os
import sys

sys.path.insert(0, os.environ.get("PYTHONPATH", "."))
from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.caching import release_cached
from esgi_4iabd2_sparkstreaming_groupe13_spark.plans.queries import QUERIES
from esgi_4iabd2_sparkstreaming_groupe13_spark.session import get_spark


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(argv) < 3 or not sf_dir:
        print(__doc__, file=sys.stderr)
        return 2
    round_name, suffix, names = argv[0], argv[1], set(argv[2:])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", round_name)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump_{round_name}_{suffix}")
    for spec in QUERIES:
        if spec.name not in names:
            continue
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{spec.name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        release_cached()
        print("dumped", spec.name)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
