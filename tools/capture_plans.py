"""Capture .explain("formatted") for every bench family into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [suffix] [family ...]
Writes plans/<tag>/<family>_<suffix>.txt (suffix defaults to "before").
Families default to all. The families, their session confs and their
persisted-state prebuilds come from bench.py, so the captured plan is the
benched plan.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main(argv: list[str]) -> int:
    tag = argv[0] if argv else "r15"
    suffix = argv[1] if len(argv) > 1 else "before"
    only = set(argv[2:])

    import bench
    from clinical_vector_search_spark.session import get_spark

    spark = get_spark(
        app_name="cvs-spark-capture-plans", extra_conf=bench.SESSION_CONF
    )
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="cvs_plans_")
    try:
        benches, prebuilds = bench.families(spark, sf_dir, scratch)
        for prebuild in prebuilds:
            prebuild()
        for name, fn in benches.items():
            if only and name not in only:
                continue
            try:
                df = fn()
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                path = os.path.join(out_dir, f"{name}_{suffix}.txt")
                with open(path, "w") as fh:
                    fh.write(buf.getvalue())
                print(f"wrote {path}")
            except Exception as ex:  # noqa: BLE001
                print(f"FAILED {name}: {ex}", file=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
