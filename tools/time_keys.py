"""Per-rep noop-sink timing of registry query keys.

Usage: python tools/time_keys.py [sf_dir] [reps] [key ...]

``sf_dir`` defaults to $SPARK_GRAFT_SF_DIR, ``reps`` to 1. With no keys
it times every registered key and ends with the slowest 40.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kamu_engine_datafusion_spark import queries as q  # noqa: E402
from kamu_engine_datafusion_spark.session import odf_session  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR"
    )
    if not sf_dir:
        sys.exit(__doc__)
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = odf_session("time-keys")
    reg = q.registry()
    keys = sys.argv[3:] or list(reg)
    results = {}
    for name in keys:
        fn = reg.get(name)
        if fn is None:
            print(f"SKIP {name}: not in registry", flush=True)
            continue
        times = []
        try:
            for i in range(reps):
                spark.sparkContext.setJobDescription(f"{name} #{i}")
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        except Exception as e:  # keep sweeping
            print(f"FAIL {name}: {type(e).__name__}: {e}", flush=True)
            continue
        results[name] = min(times)
        reps_s = " ".join(f"{t:.3f}" for t in times)
        print(f"TIME {name}: [{reps_s}] min={min(times):.3f}", flush=True)
    if len(keys) > 1:
        print("== slowest ==")
        for name, t in sorted(results.items(), key=lambda kv: -kv[1])[:40]:
            print(f"  {t:8.3f}s  {name}")


if __name__ == "__main__":
    main()
