"""Capture ``.explain("formatted")`` plans of named query entries.

Usage: python scripts/plans.py ROUND_DIR TAG entry [entry ...]

Writes ``ROUND_DIR/<entry>_<TAG>.txt`` for each entry of
``__spark_entry__.queries()`` or ``extra_queries()`` (TAG is usually
``before`` or ``after``), e.g. ``python scripts/plans.py plans/r16 after
pagerank``. The session comes from ``session.get_spark`` (env
``SPARK_GRAFT_CPUS``); the dataset is ``$SPARK_GRAFT_SF_DIR`` (default:
``__spark_entry__.DEFAULT_SF_DIR``).

Streaming/foreachBatch entries return a post-drain DataFrame (memory table
or state-parquet read), so their plan documents the returned relation.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from hybrid_recommendation_system_using_vector_db_spark.plans import formatted_plan
    from hybrid_recommendation_system_using_vector_db_spark.session import get_spark

    spark = get_spark("spark-graft-plans")
    import __spark_entry__ as entry_mod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", entry_mod.DEFAULT_SF_DIR)
    qmap = {**entry_mod.extra_queries(), **entry_mod.queries()}
    missing = [n for n in names if n not in qmap]
    if missing:
        sys.exit(f"unknown entries: {missing}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        plan = formatted_plan(qmap[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('InMemoryTableScan')} InMemoryTableScan)")
    spark.stop()


if __name__ == "__main__":
    main()
