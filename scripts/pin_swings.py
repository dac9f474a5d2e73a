"""Min-of-k swing adjudication (the BENCH/pinned_swings.json protocol).

Single-shot sf0.1 timings on this VM see 2-20x steal-time spikes; before
believing a round-over-round regression, re-run the query k times on a
fresh lineage and compare the FLOOR to the prior rounds' numbers. This
script runs the protocol for the named queries() entries and merges the
results into BENCH/pinned_swings.json (the verdict text is written by the
operator after reading the floors — the script records the evidence).

Usage: python scripts/pin_swings.py <query> [query ...] [--k 6]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (default 32)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    argv = sys.argv[1:]
    k = 6
    if "--k" in argv:
        i = argv.index("--k")
        k = int(argv[i + 1])
        del argv[i:i + 2]
    args = [a for a in argv if not a.startswith("--")]
    if not args:
        print(__doc__)
        return

    import __spark_entry__ as ent
    from nabu_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="nabu-pin-swings", cores=cores,
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()

    path = os.path.join(REPO, "BENCH", "pinned_swings.json")
    pinned = json.load(open(path)) if os.path.exists(path) else {}

    for name in args:
        fn = qs[name]
        runs = []
        for _ in range(k):
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.monotonic() - t0, 3))
        entry = {
            "round": os.environ.get("PIN_ROUND", "r5"),
            "protocol": f"min-of-{k}, local[{cores}], "
                        f"{os.path.basename(sf_dir.rstrip('/'))}, "
                        "fresh lineage per run",
            "runs_sec": runs,
            "min_sec": min(runs),
        }
        prior = pinned.get(name, {})
        for key in ("r2_sec", "r3_sec", "r4_sec", "verdict"):
            if key in prior:
                entry[f"prior_{key}" if key == "verdict" else key] = prior[key]
        pinned[name] = entry
        print(json.dumps({name: entry}), flush=True)

    with open(path, "w") as fh:
        json.dump(pinned, fh, indent=1)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
