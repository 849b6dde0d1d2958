"""Build the --py-files artifact for cluster deployment.

    python tools/package.py [out.zip]

produces a zip of the s2_geometry_rust_spark package, the engine only,
suitable for

    spark-submit --py-files s2_geometry_rust_spark.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        your_job.py

(the executor-side PYTHONPATH handling in session.get_spark is the
local-mode equivalent; on a cluster the zip rides the job).

The driver contract harness (the query registry and its DuckDB oracle)
lives in the sibling ``contract`` package and is not packed: it runs
on the driver only, and no engine module imports it.

``get_spark`` also sets ``spark.python.daemon.module`` to the engine's
daemon module, a local-mode setting that gives every Python worker the
package's stat-keyed zip rule before it forks.  A spark-submit job does
not set it: there a worker installs the rule when a task first imports
the package, as every engine UDF does.
"""

from __future__ import annotations

import pathlib
import sys
import zipfile


def build(out: str = "s2_geometry_rust_spark.zip") -> str:
    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "s2_geometry_rust_spark"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(pkg.rglob("*.py")):
            z.write(p, p.relative_to(root))
    return out


if __name__ == "__main__":
    path = build(*sys.argv[1:])
    names = zipfile.ZipFile(path).namelist()
    print(f"{path}: {len(names)} files")


# Verified deployment path (run from any directory, no repo on sys.path):
#   python tools/package.py /tmp/s2pkg.zip
#   /opt/spark/bin/spark-submit --master local[4] \
#       --py-files /tmp/s2pkg.zip tools/submit_smoke_job.py
# -> TILES_ROWS=<n> from the packaged engine alone.
