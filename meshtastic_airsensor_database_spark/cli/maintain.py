"""Lake-maintenance driver (engine extension surface; the reference's
Postgres vacuums itself — a parquet lake needs the engine to do it).

    python -m meshtastic_airsensor_database_spark.cli.maintain \
        compact-partitions PATH --partition-by COL [--target-mb 256]
    python -m meshtastic_airsensor_database_spark.cli.maintain \
        compact-index PATH [--target-mb 256]
    python -m meshtastic_airsensor_database_spark.cli.maintain \
        compact-rollup PATH
    python -m meshtastic_airsensor_database_spark.cli.maintain \
        erase-key FACT_PATH --partition-by COL --key-col COL --key-value V
        [--rollup-path P --rollup-keys a,b --distinct-col c]
    python -m meshtastic_airsensor_database_spark.cli.maintain \
        recover-erasure FACT_PATH
    python -m meshtastic_airsensor_database_spark.cli.maintain \
        erase-index INDEX_PATH --ids 1,2,3 [--id-type auto]
    python -m meshtastic_airsensor_database_spark.cli.maintain \
        expire-snapshots PATH [--keep-last 2]

One JSON report line per run on stdout — the scriptable form of the
sources/maintenance.py + sources/versioned.py library surface, meant
for the same single-maintainer window as landing-file retirement
(deploy/compose.yaml documents the constraint).
"""

from __future__ import annotations

import argparse
import dataclasses
import json

from ..session import get_spark


def _typed(value: str, kind: str):
    if kind == "int":
        return int(value)
    if kind == "float":
        return float(value)
    if kind == "str":
        return value
    # auto: the common case — subject keys are numeric ids or strings
    try:
        return int(value)
    except ValueError:
        try:
            return float(value)
        except ValueError:
            return value


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="maintain")
    sub = p.add_subparsers(dest="cmd", required=True)

    cp = sub.add_parser(
        "compact-partitions",
        help="repair degenerate partitions of a partitioned parquet table",
    )
    cp.add_argument("path")
    cp.add_argument("--partition-by", required=True)
    cp.add_argument("--target-mb", type=int, default=256)
    cp.add_argument("--small-file-mb", type=float, default=32.0)

    ci = sub.add_parser(
        "compact-index",
        help="crash-safe compaction of an append-grown persisted index "
        "(dedup_index / decon_index subtables)",
    )
    ci.add_argument("path")
    ci.add_argument("--target-mb", type=int, default=256)
    ci.add_argument("--small-file-mb", type=float, default=32.0)

    cr = sub.add_parser(
        "compact-rollup",
        help="fold each date's hourly-rollup deltas into one, crash-safely "
        "(run with the ingest stopped)",
    )
    cr.add_argument("path")

    ek = sub.add_parser(
        "erase-key", help="right-to-erasure over the fact lake + rollup"
    )
    ek.add_argument("fact_path")
    ek.add_argument("--partition-by", required=True)
    ek.add_argument("--key-col", required=True)
    ek.add_argument("--key-value", required=True)
    ek.add_argument(
        "--key-type",
        choices=["auto", "int", "float", "str"],
        default="auto",
        help="how to type --key-value for the column comparison",
    )
    ek.add_argument("--rollup-path")
    ek.add_argument(
        "--rollup-keys", help="comma-separated rollup grouping keys"
    )
    ek.add_argument("--ts-col", default="ts")
    ek.add_argument("--value-col", default="value")
    ek.add_argument("--distinct-col")

    rc = sub.add_parser(
        "recover-erasure",
        help="complete a crashed erase-key from its persisted intent "
        "marker (erase-key also recovers automatically at entry; this "
        "is the standalone form for operators who only know the path)",
    )
    rc.add_argument("fact_path")

    ei = sub.add_parser(
        "erase-index",
        help="right-to-erasure over a persisted index directory "
        "(dedup_index / decon_index / vindex subtables)",
    )
    ei.add_argument("index_path")
    ei.add_argument(
        "--ids", required=True,
        help="comma-separated subject ids to remove from every subtable",
    )
    ei.add_argument(
        "--id-type",
        choices=["auto", "int", "float", "str"],
        default="auto",
        help="how to type each id for the column comparison",
    )

    ex = sub.add_parser(
        "expire-snapshots", help="drop old versioned-corpus snapshots"
    )
    ex.add_argument("path")
    ex.add_argument("--keep-last", type=int, default=2)

    args = p.parse_args(argv)
    if args.cmd == "erase-key" and bool(args.rollup_path) != bool(
        args.rollup_keys
    ):
        p.error("--rollup-path and --rollup-keys must be given together")

    if args.cmd == "expire-snapshots":
        # pure-filesystem path — no Spark session needed
        from ..sources.versioned import expire_snapshots, latest_version

        expired = expire_snapshots(args.path, keep_last=args.keep_last)
        print(
            json.dumps(
                {
                    "cmd": args.cmd,
                    "expired_versions": expired,
                    "latest": latest_version(args.path),
                }
            )
        )
        return 0

    spark = spark or get_spark("maintain")
    if args.cmd == "compact-partitions":
        from ..sources.maintenance import compact_partitions

        rep = compact_partitions(
            spark,
            args.path,
            args.partition_by,
            target_mb=args.target_mb,
            small_file_mb=args.small_file_mb,
        )
        print(json.dumps({"cmd": args.cmd, **dataclasses.asdict(rep)}))
    elif args.cmd == "compact-index":
        from ..io_utils import has_pending_append
        from ..sources.maintenance import compact_index

        reps = compact_index(
            spark,
            args.path,
            target_mb=args.target_mb,
            small_file_mb=args.small_file_mb,
        )
        print(
            json.dumps(
                {
                    "cmd": args.cmd,
                    # one marker per index: a crashed extend left some
                    # subtables with its rows and later ones without
                    "pending_append": has_pending_append(args.path),
                    "subtables": {
                        k: dataclasses.asdict(v) for k, v in reps.items()
                    },
                }
            )
        )
    elif args.cmd == "compact-rollup":
        from ..streaming.rollup import compact_rollup

        rep = compact_rollup(spark, args.path)
        print(json.dumps({"cmd": args.cmd, **dataclasses.asdict(rep)}))
    elif args.cmd == "recover-erasure":
        from ..sources.maintenance import recover_erasure

        rep = recover_erasure(spark, args.fact_path)
        print(
            json.dumps(
                {
                    "cmd": args.cmd,
                    "pending_intent": rep is not None,
                    **(dataclasses.asdict(rep) if rep is not None else {}),
                }
            )
        )
    elif args.cmd == "erase-index":
        from ..sources.maintenance import erase_from_index

        rep = erase_from_index(
            spark,
            args.index_path,
            [_typed(v, args.id_type) for v in args.ids.split(",")],
        )
        print(json.dumps({"cmd": args.cmd, **dataclasses.asdict(rep)}))
    else:  # erase-key
        from ..sources.maintenance import erase_key

        rep = erase_key(
            spark,
            args.fact_path,
            args.partition_by,
            args.key_col,
            _typed(args.key_value, args.key_type),
            rollup_path=args.rollup_path,
            rollup_keys=(
                args.rollup_keys.split(",") if args.rollup_keys else None
            ),
            ts_col=args.ts_col,
            value_col=args.value_col,
            distinct_col=args.distinct_col,
        )
        print(json.dumps({"cmd": args.cmd, **dataclasses.asdict(rep)}))
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
