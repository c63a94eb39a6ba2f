"""Command-line entry point — run any registry query from the shell.

    python -m acuvate_spark list [--grep PATTERN]
    python -m acuvate_spark run <query> [--sf-dir DIR] [--limit N]
                                        [--out PATH] [--explain]
    python -m acuvate_spark sql "SELECT ..." [--sf-dir DIR] [--limit N]
                                             [--out PATH] [--explain]
    python -m acuvate_spark schedule <state.json> [--set HH:mm]
    python -m acuvate_spark sync <state.json> [--sf-dir DIR] --out PATH
                                              [--at ISO_DATETIME]

``run`` executes one named query against the parquet tables in
``--sf-dir`` (default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.01)
and shows the first ``--limit`` rows; ``--out`` writes the full result
as parquet instead (distributed write, no driver collect); ``--explain``
prints the formatted physical plan. This is the switch-over surface
for a reference user: every operator in SURVEY.md §2 is a named query
here.

``sql`` registers every test table (region nation customer supplier
part orders lineitem events documents embeddings) as a temp view and
runs one ad-hoc Spark SQL statement over them — the free-form query
surface for anything not already in the registry; Catalyst plans it
with the same pushdown/pruning/AQE the named queries get.

``schedule``/``sync`` are the reference's /schedule GET+POST and /sync
endpoints (app.py:6754-6813): ``schedule`` shows or updates the
persisted daily-sync time (``streaming.schedule.SyncScheduler``);
``sync`` is the platform tick — it runs the sync iff the current slot
is due (idempotent per slot; pass ``--force`` for the reference's
manual-trigger semantics).
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    parser = argparse.ArgumentParser(prog="acuvate_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registry queries")
    p_list.add_argument("--grep", default=None, help="substring filter on name/ref")

    p_run = sub.add_parser("run", help="run one query")
    p_run.add_argument("query")
    p_sql = sub.add_parser("sql", help="run ad-hoc Spark SQL over the test tables")
    p_sql.add_argument("statement")
    p_sched = sub.add_parser(
        "schedule", help="show or update the persisted daily-sync time (HH:mm)"
    )
    p_sched.add_argument("state_path")
    p_sched.add_argument("--set", dest="set_time", default=None, metavar="HH:mm")
    p_sync = sub.add_parser(
        "sync", help="platform tick: run the daily sync iff the current slot is due"
    )
    p_sync.add_argument("state_path")
    p_sync.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p_sync.add_argument("--out", required=True, help="sync staging directory")
    p_sync.add_argument(
        "--at", default=None, help="ISO datetime for the tick (testing; default: now)"
    )
    p_sync.add_argument(
        "--force", action="store_true",
        help="run regardless of the slot (the reference's manual /sync)",
    )
    for p in (p_run, p_sql):
        p.add_argument(
            "--sf-dir",
            default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        )
        p.add_argument("--limit", type=int, default=20)
        p.add_argument("--out", default=None, help="write full result as parquet here")
        p.add_argument("--explain", action="store_true")
    args = parser.parse_args()

    if args.cmd == "schedule":
        from acuvate_spark.streaming.schedule import SyncScheduler

        sched = SyncScheduler(args.state_path)
        if args.set_time is not None:
            print(f"schedule set to {sched.set_schedule(args.set_time)}")
        else:
            t = sched.get_schedule()
            print(t if t is not None else f"(none; default {sched.effective_time()})")
        return 0

    if args.cmd == "sync":
        from datetime import datetime

        from acuvate_spark.session import get_spark
        from acuvate_spark.streaming.schedule import SyncScheduler
        from acuvate_spark.streaming.windows import run_daily_sync

        now = datetime.fromisoformat(args.at) if args.at else datetime.now().astimezone()
        spark = get_spark("acuvate-sync")
        try:
            if args.force:
                n = run_daily_sync(spark, args.sf_dir, args.out)
            else:
                n = SyncScheduler(args.state_path).run_if_due(
                    spark, args.sf_dir, args.out, now=now
                )
        finally:
            spark.stop()
        print("not due" if n is None else f"synced {n} rows to {args.out}")
        return 0

    from acuvate_spark.queries import REGISTRY

    if args.cmd == "list":
        for name, spec in REGISTRY.items():
            ref = (spec.survey_ref or "").replace("\n", " ")
            if args.grep and args.grep.lower() not in f"{name} {ref}".lower():
                continue
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{name:32s} [{oracle}] {ref}")
        return 0

    if args.cmd == "run" and args.query not in REGISTRY:
        print(f"unknown query {args.query!r}; try: python -m acuvate_spark list", file=sys.stderr)
        return 2

    from acuvate_spark.session import get_spark

    label = args.query if args.cmd == "run" else "sql"
    spark = get_spark(f"acuvate-run-{label}")
    try:
        if args.cmd == "sql":
            from acuvate_spark.tables import register_views

            register_views(spark, args.sf_dir)
            df = spark.sql(args.statement)
        else:
            df = REGISTRY[args.query].fn(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        if args.out:
            # no post-write count: re-scanning the output would double
            # the job's IO just for a log line
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote result to {args.out}")
        else:
            df.show(args.limit, truncate=False)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
