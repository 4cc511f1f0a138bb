"""Re-pin expected.json: run the batch job once and record the digest
of every seed-free stage output. Only for a deliberate change of the
job or its inputs; run from the repository root:

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import sys

import run as R
import batch
import datagen
from common import Ctx, Run


def main() -> int:
    root = os.getcwd()
    work = os.path.join(root, R.WORK_DIR)
    R.configure_env(root, work)
    sys.path.insert(0, root)
    data = os.path.join(work, f"data-{R.DATA_SCALE:g}")
    rows, _ = datagen.ensure(data, R.DATA_SCALE)
    from agensgraph_spark import get_spark
    spark = get_spark("perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = Run()
        job = batch.Job(Ctx(spark, data, 0, 0, None, work), out)
        job.run()
        failed = [op for op in out.ops if not op.ok]
        if failed:
            print(f"stage {failed[0].kind} failed: {failed[0].note}", file=sys.stderr)
            return 1
        pins = {"scale": R.DATA_SCALE, "data_rows": rows,
                "stages": batch.frame_digests({n: job.frames[n] for n in batch.PINNED})}
    finally:
        R.stop_spark(spark)
    with open(batch.EXPECTED, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(pins["stages"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
