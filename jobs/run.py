"""spark-submit entry point. Build the zip from the tree first; dist/ is not
tracked, so a stale copy never ships.

    scripts/build_dist.sh
    spark-submit --py-files dist/nabu_spark.zip jobs/run.py harvest \
        --pages /data/pages --out /data/run1
"""

import sys

from nabu_spark.cli import main

if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
