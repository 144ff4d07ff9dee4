#!/usr/bin/env python
"""Capture the AQE-off physical plans of registered queries, ids masked.

    python tools/capture_plans.py --out DIR [--sf-dir DIR] [name ...]

Writes ``DIR/<name>.txt``: the ``explain("formatted")`` text of each named
query (default: ``bench.BENCH_QUERIES``; any registered name works), built
on bench.py's small profile (4 shuffle partitions) with AQE off, so the
text is the static plan and not one decided at run time. Each query is
built after ``clearCache()``, so a ``.cache()`` left by an earlier query
does not show up as an InMemoryTableScan.

Expression ids (``#123``), ``plan_id``s, RDD ids and temp paths are masked,
so captures of two checkouts compare with one ``diff -r``: run this script
from each checkout (it imports the package next to it) into two
directories and diff them.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_MASKS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(file:)?/tmp/[^\s,\]]*"), "<tmp>"),
    (re.compile(r"\btmp\w{8}\b"), "<tmp>"),  # tempfile.mkdtemp() names
)


def mask(plan: str) -> str:
    """The plan text with run-specific ids and temp paths replaced."""
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    from epiteam_network_etl_functions_spark.catalog import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True, help="directory for <name>.txt")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("names", nargs="*", help="registered query names")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_SMALL_PROFILE", "1")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")
    from bench import BENCH_QUERIES
    import __spark_entry__ as entrymod
    from epiteam_network_etl_functions_spark.session import get_session, prep

    registry = entrymod.queries()
    names = args.names or list(BENCH_QUERIES)
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"not registered: {', '.join(unknown)}")
    os.makedirs(args.out, exist_ok=True)

    # prep() first: the queries' own prep() call then leaves the conf alone
    spark = prep(get_session("plan-capture"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for name in names:
        spark.catalog.clearCache()
        df = registry[name](spark, args.sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(mask(txt))
        print(f"# wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
