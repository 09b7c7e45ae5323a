"""Capture ``explain('formatted')`` output for registered queries.

Usage: python tools/capture_plans.py <out_dir> <tag> [query ...]

Writes ``<out_dir>/<query>_<tag>.txt`` for each named query (default: the
bench HEADLINE + PROBE_HEADLINE sets).  The fixture side effects run
exactly as in the bench (fn() builds collections/indexes eagerly); the
captured plan is the returned DataFrame's — the plan the bench's timed
count() executes.

Paths are written relative to two placeholders so that plans captured by
different processes, or against different checkouts, diff cleanly: the
scale-factor directory becomes ``${SF_DIR}`` and each fixture's
per-process temp store (``<tmpdir>/bvds_<tag>_<sf>_<pid>``) becomes
``${TMP}``.
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bob_vector_db_spark.session import get_spark  # noqa: E402
from bob_vector_db_spark import queries as Q  # noqa: E402


def normalize_paths(text: str, sf_dir: str) -> str:
    """Replace the sf-dir and this process's fixture temp-dir prefixes
    with ``${SF_DIR}`` / ``${TMP}``."""
    text = text.replace(os.path.abspath(sf_dir), "${SF_DIR}")
    tmp = re.escape(tempfile.gettempdir())
    return re.sub(rf"{tmp}/bvds_[^/\s\],]*_{os.getpid()}", "${TMP}", text)


def main() -> int:
    out_dir = sys.argv[1]
    tag = sys.argv[2]
    names = sys.argv[3:]
    if not names:
        import bench  # noqa: PLC0415

        names = bench.HEADLINE + bench.PROBE_HEADLINE
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture_plans")
    for name in names:
        if name not in Q.REGISTRY:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        df = Q.REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        stdout, sys.stdout = sys.stdout, buf
        try:
            df.explain("formatted")
        finally:
            sys.stdout = stdout
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(normalize_paths(buf.getvalue(), sf_dir))
        print(f"wrote {path}")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
