"""Command-line entry point: run registered queries from a shell.

The reference codec is driven through Hadoop CLIs (`hadoop fs -text
x.bro` works because the codec registers for the `.bro` extension —
SURVEY.md §2a #4); the equivalent operational surface for this engine
is a small CLI over the query registry:

    python -m hadoop_brotli_spark list
    python -m hadoop_brotli_spark run q01_pricing_summary \
        [--sf-dir /root/testdata/sf0.1] [--explain] [--json] [--limit N]
    python -m hadoop_brotli_spark sql "SELECT ... FROM lineitem ..." \
        [--sf-dir ...]
    python -m hadoop_brotli_spark verify <query>|all [--sf-dir ...]

`run` executes one registered query; `sql` registers the catalog
tables as temp views and executes ad-hoc SQL through the same
Catalyst pipeline.
"""

from __future__ import annotations

import argparse
import json
import sys

from .catalog import DEFAULT_SF_DIR, register_views
from .registry import load_all_queries
from .session import get_spark


def _print_df(df, as_json: bool, limit: int | None) -> None:
    if limit is not None:
        df = df.limit(limit)
    if as_json:
        for row in df.toJSON().toLocalIterator():
            print(row)
    else:
        df.show(limit or 20, truncate=False)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hadoop_brotli_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    lst = sub.add_parser("list", help="list registered queries")
    lst.add_argument("--by-category", action="store_true",
                     help="group by SURVEY §2 category with counts")

    run = sub.add_parser("run", help="run one registered query")
    run.add_argument("name")
    run.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    run.add_argument("--explain", action="store_true",
                     help="print the formatted physical plan instead of rows")
    run.add_argument("--json", action="store_true", dest="as_json")
    run.add_argument("--limit", type=int, default=None)

    sql = sub.add_parser("sql", help="run ad-hoc SQL over the catalog views")
    sql.add_argument("query")
    sql.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sql.add_argument("--json", action="store_true", dest="as_json")
    sql.add_argument("--limit", type=int, default=None)

    ver = sub.add_parser(
        "verify",
        help="compare one registered query (or 'all') against its "
        "DuckDB oracle under driver-identical canonicalization",
    )
    ver.add_argument("name")
    ver.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    args = ap.parse_args(argv)

    if args.cmd == "list":
        specs = load_all_queries()
        if args.by_category:
            by_cat: dict[str, list[str]] = {}
            for name, spec in specs.items():
                by_cat.setdefault(spec.category, []).append(name)
            for cat in sorted(by_cat):
                names = sorted(by_cat[cat])
                print(f"## {cat} ({len(names)})")
                for name in names:
                    print(f"  {name}")
            print(f"# total: {len(specs)} queries, {len(by_cat)} categories")
        else:
            for name in sorted(specs):
                oracle = "oracle" if specs[name].oracle else "rows-only"
                print(f"{name}\t{oracle}\t{specs[name].category}")
        return 0

    if args.cmd in ("run", "verify"):
        # an unknown name fails before the JVM start it would not need
        specs = load_all_queries()
        if args.name not in specs and not (
                args.cmd == "verify" and args.name == "all"):
            print(f"unknown query {args.name!r}; see `list`",
                  file=sys.stderr)
            return 2

    spark = get_spark("hbs-cli")
    try:
        if args.cmd == "run":
            df = specs[args.name].fn(spark, args.sf_dir)
            if args.explain:
                from .plans.inspect import explain_string

                print(explain_string(df, "formatted"))
            else:
                _print_df(df, args.as_json, args.limit)
        elif args.cmd == "sql":
            register_views(spark, args.sf_dir)
            _print_df(spark.sql(args.query), args.as_json, args.limit)
        elif args.cmd == "verify":
            from .oracle import compare

            names = sorted(specs) if args.name == "all" else [args.name]
            n_fail = 0
            for name in names:
                try:
                    compare(specs[name], spark, args.sf_dir)
                    print(f"OK   {name}")
                except AssertionError as exc:
                    n_fail += 1
                    print(f"FAIL {name}: {exc}")
                except Exception as exc:  # engine error ≠ run abort
                    # a query or oracle that CRASHES (e.g. a DuckDB
                    # overflow on regenerated data) is a FAIL for that
                    # query, not a reason to lose the rest of `all`
                    n_fail += 1
                    print(f"FAIL {name}: {type(exc).__name__}: "
                          f"{str(exc)[:300]}")
            if n_fail:
                print(f"{n_fail}/{len(names)} queries FAILED",
                      file=sys.stderr)
                return 1
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
