"""Capture .explain('formatted') for every registry entry into
<out_dir>/<name>_<tag>.txt (tag = before/after, say). Usage:

    SPARK_GRAFT_SF_DIR=<tables dir> python tools/capture_plans.py <out_dir> [tag] [name ...]

Construction side effects (stored-index builds) run once per process as
in the bench; plans reflect the steady-state serve shape.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sum_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark()
    from sum_spark.queries import REGISTRY

    for name, q in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e}"
        p = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(p, "w") as fh:
            fh.write(plan)
        print(f"{name}: {len(plan)} chars -> {p}", flush=True)


if __name__ == "__main__":
    main()
