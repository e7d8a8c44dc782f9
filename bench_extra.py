"""Round-8 optimization harness (bench.py is FROZEN — this file is the
working-measurement sibling per the optimization brief).

Modes:
  python bench_extra.py time [sf_dir] [rounds] [query ...]
      noop-sink isolation timing per query (guide §1.4), min/median of
      interleaved rounds, one JSON line.
  python bench_extra.py plans [sf_dir] [suffix] [query ...]
      write .explain("formatted") for each query to plans/r08/<q>_<suffix>.txt
  python bench_extra.py pipeline [n_images]
      the flagship image pipeline alone (warmed), seconds + images/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time

import __spark_entry__ as E
import bench
from extractors_geo_spark.session import get_spark


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]")
    qs = E.queries()

    if mode == "plans":
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        names = sys.argv[4:] or list(bench.HEADLINE)
        os.makedirs("plans/r08", exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(f"plans/r08/{name}_{suffix}.txt", "w") as f:
                f.write(plan)
            print("wrote", f"plans/r08/{name}_{suffix}.txt")
        spark.stop()
        return

    if mode == "pipeline":
        n_images = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
        bench.warmup(spark)
        secs = []
        for _ in range(3):
            sec, rows = bench.image_pipeline(spark, n_images)
            secs.append(sec)
        print(json.dumps({"images": n_images, "samples": [round(s, 3) for s in secs],
                          "min": round(min(secs), 3),
                          "images_per_sec": round(n_images / min(secs), 1)}))
        spark.stop()
        return

    # mode == "time"
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    names = sys.argv[4:] or list(bench.HEADLINE)
    # warm the python worker pool like bench.py does
    bench.warmup(spark)
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(rounds):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
    out = {
        "sf": sf_dir,
        "rounds": rounds,
        "min": {n: round(min(ts), 3) for n, ts in samples.items()},
        "samples": {n: [round(t, 3) for t in ts] for n, ts in samples.items()},
        "total_min": round(sum(min(ts) for ts in samples.values()), 3),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
