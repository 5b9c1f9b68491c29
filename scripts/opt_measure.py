"""Round-13/14 optimization harness: time individual queries with the noop
sink (guide §1.4 — computation only, no sink cost) and dump their
``.explain("formatted")`` plans for the before/after evidence in
``plans/r14/``.

Usage:
    python scripts/opt_measure.py [--plans SUFFIX] [--repeat N] [--sf DIR] q1 q2 ...

- each query is built fresh, timed to a noop write (streaming gates and
  gates that internally drive actions are timed to .count() like bench.py,
  noted in the output);
- with ``--plans before`` / ``--plans after`` the formatted plan is written
  to plans/r14/<query>_<suffix>.txt;
- prints one line per query: median of N observations + all observations.

This harness exists for the optimization loop only; the graded artifact
stays bench.py (unchanged methodology).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    argv = sys.argv[1:]
    plans_suffix = None
    repeat = 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--plans":
            plans_suffix = argv[i + 1]
            i += 2
        elif argv[i] == "--repeat":
            repeat = int(argv[i + 1])
            i += 2
        elif argv[i] == "--sf":
            sf_dir = argv[i + 1]
            i += 2
        else:
            names.append(argv[i])
            i += 1

    from bench import _control
    from qdrant_datafusion_spark.entry_queries import QUERIES
    from qdrant_datafusion_spark.plans.inspect import explain_str
    from qdrant_datafusion_spark.session import get_spark

    spark = get_spark(app_name="opt-measure")
    # bench.py's warm-up, so numbers are comparable: footers, then six
    # untimed runs of its control query
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    for _ in range(6):
        _control(spark, sf_dir)

    plans_dir = os.path.join(REPO, "plans", "r14")
    os.makedirs(plans_dir, exist_ok=True)

    for name in names:
        fn = QUERIES[name]
        obs = []
        mode = "noop"
        for r in range(repeat):
            spark.sparkContext.setJobDescription(f"opt:{name}#{r}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            if df.isStreaming:
                mode = "stream-count"
                df.count()
            else:
                try:
                    df.write.format("noop").mode("overwrite").save()
                except Exception:
                    mode = "count"
                    df.count()
            obs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        if plans_suffix:
            try:
                df = fn(spark, sf_dir)
                with open(
                    os.path.join(plans_dir, f"{name}_{plans_suffix}.txt"), "w"
                ) as f:
                    f.write(explain_str(df))
            except Exception as e:  # streaming plans need a started query
                with open(
                    os.path.join(plans_dir, f"{name}_{plans_suffix}.txt"), "w"
                ) as f:
                    f.write(f"(no static plan: {e})\n")
        s = sorted(obs)
        med = s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2
        print(
            f"{name}: median={med:.3f}s obs={obs} mode={mode}",
            flush=True,
        )


if __name__ == "__main__":
    main()
