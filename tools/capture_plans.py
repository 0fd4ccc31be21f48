"""Capture `.explain("formatted")` output for named queries into
<out_dir>/<query>_<stage>.txt — before/after plan evidence for an
optimization pass.

Usage: python tools/capture_plans.py <out_dir> <before|after> <query> [query ...]
       python tools/capture_plans.py <out_dir> <before|after> --all-headline

Plans are captured at the BENCH scale factor (sf0.1 by default, override
with SPARK_GRAFT_SF_DIR) so the shapes match what bench.py times.
CHECKPOINT_ENABLED is flipped off (the dump_plans.py convention) so
localCheckpoint lineage truncation doesn't hide the real plan under a
"Scan ExistingRDD".
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, stage, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    assert stage in ("before", "after"), stage

    from akkastreamprocessnpmpackagedependencies_spark import session as sess

    sess.CHECKPOINT_ENABLED = False  # keep full lineage visible in explain

    import __spark_entry__ as entrymod
    from akkastreamprocessnpmpackagedependencies_spark.session import get_spark

    if names == ["--all-headline"]:
        import bench

        names = list(bench.HEADLINE)

    spark = get_spark("capture_plans")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{stage}.txt")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, SF_DIR).explain("formatted")
        plan = buf.getvalue()
        with open(path, "w") as fh:
            fh.write(plan if plan.endswith("\n") else plan + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
