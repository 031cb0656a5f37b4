"""CLI entry point: ``python -m youcruit_tap_rawpostgresql_spark``.

Mirrors the reference's Singer CLI surface (``tap.py:262-263``):
``--config`` + optional ``--discover`` / ``--about`` / ``--state`` /
``--batch``. Discovery and about need no Spark session (reference Q2 makes
no DB connection); sync builds one via the engine defaults unless the
caller embeds the engine and injects their own SparkSession via SparkTap.
"""

from __future__ import annotations

import argparse
import json
import sys


def _config_from_env() -> dict:
    """``--config=ENV``: assemble the config from TAP_RAWPOSTGRESQL_*
    environment variables (reference README: env vars 'will be considered
    if --config=ENV is provided'). The setting name is the lower-cased
    suffix; values of structured settings (`streams`, `stream_maps`,
    ports, booleans, …) parse as JSON; string-typed settings
    (user/password/host/database/…) stay verbatim strings."""
    import os

    prefix = "TAP_RAWPOSTGRESQL_"
    # only non-string-typed settings are JSON-parsed (mirrors the Singer
    # SDK, which parses env values per the declared setting type): a
    # password/username of `true`, `null`, or `007` must come through as
    # the verbatim string, never be coerced (null would silently DROP the
    # credential)
    structured = {
        "streams",
        "stream_maps",
        "stream_map_config",
        "batch_config",
        "jdbc",
        "jdbc_target",
        "jdbc_partition",
        "port",
        "batch_size",
        "flattening_enabled",
        "flattening_max_depth",
    }
    raw: dict = {}
    for key, val in os.environ.items():
        if not key.startswith(prefix) or not key[len(prefix):]:
            continue
        name = key[len(prefix):].lower()
        if name in structured:
            try:
                raw[name] = json.loads(val)
            except ValueError:
                raw[name] = val
        else:
            raw[name] = val
    return raw


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tap-rawpostgresql-spark")
    dest = p.add_mutually_exclusive_group()  # one sync target, never a silent pick
    p.add_argument(
        "--config",
        help="path to tap config JSON, or the literal 'ENV' to build the "
        "config from TAP_RAWPOSTGRESQL_* environment variables "
        "(reference README 'Configure using environment variables')",
    )
    p.add_argument("--state", help="path to state JSON")
    p.add_argument(
        "--catalog",
        help="path to a Singer input catalog JSON: drives stream "
        "selection ('selected' metadata) and replication overrides "
        "('replication-method'/'replication-key') — the `catalog` "
        "capability (reference tap.py:252)",
    )
    p.add_argument("--version", action="store_true")
    p.add_argument("--discover", action="store_true")
    dest.add_argument(
        "--jdbc-target",
        metavar="MODE",
        nargs="?",
        const="append",
        default=None,
        choices=["append", "overwrite"],
        help="sync each stream into the warehouse table configured under "
        "config.jdbc_target via DataFrame writes over JDBC (the LOAD "
        "half of extract-load); MODE defaults to append",
    )
    p.add_argument(
        "--discover-live",
        metavar="SCHEMA_PATTERN",
        nargs="?",
        const="",
        default=None,
        help="introspect the CONFIGURED live database (config.jdbc) over "
        "JDBC metadata and print a catalog of its tables — the "
        "live-source complement of config-declared --discover",
    )
    p.add_argument("--about", action="store_true")
    dest.add_argument("--batch", action="store_true", help="emit BATCH files/messages")
    p.add_argument(
        "--explain",
        action="store_true",
        help="print each stream's physical plan instead of syncing "
        "(the engine-side EXPLAIN the reference cannot surface from PG)",
    )
    p.add_argument(
        "--parallel",
        type=int,
        default=1,
        help="sync up to N streams at once, into any target (reference is sequential)",
    )
    p.add_argument(
        "--test",
        action="store_true",
        help="connection/config test (Singer SDK --test parity): resolve "
        "each stream's plan and fetch one record; no messages emitted",
    )
    dest.add_argument(
        "--versioned-root",
        default=None,
        help="sync into a versioned snapshot table under this root "
        "(one atomic commit per stream per sync; time-travel readable)",
    )
    p.add_argument(
        "--sf-dir",
        default=None,
        help="register testdata parquet tables from this dir as source views",
    )
    args = p.parse_args(argv)

    from youcruit_tap_rawpostgresql_spark.catalog import about, discover_catalog
    from youcruit_tap_rawpostgresql_spark.spec import TapConfig

    if args.version:
        from youcruit_tap_rawpostgresql_spark import __version__

        print(__version__)
        return 0

    if args.about:
        print(json.dumps(about(), indent=2))
        return 0

    if not args.config:
        p.error("--config is required unless --about/--version")
    if args.config == "ENV":
        config = TapConfig.from_dict(_config_from_env())
    else:
        with open(args.config) as f:
            config = TapConfig.from_dict(json.load(f))
    input_catalog = None
    if args.catalog:
        with open(args.catalog) as f:
            input_catalog = json.load(f)

    if args.discover:
        print(json.dumps(discover_catalog(config), indent=2))
        return 0

    if args.discover_live is not None:
        if config.jdbc is None:
            p.error("--discover-live requires a jdbc source in the config")
        from youcruit_tap_rawpostgresql_spark.catalog import discover_live_catalog
        from youcruit_tap_rawpostgresql_spark.session import get_session as _gs

        cat = discover_live_catalog(
            _gs(app_name="tap-rawpostgresql-spark"),
            config.jdbc,
            schema_pattern=args.discover_live or None,
        )
        print(json.dumps(cat, indent=2))
        return 0

    from youcruit_tap_rawpostgresql_spark.session import get_session
    from youcruit_tap_rawpostgresql_spark.sources.registry import register_testdata
    from youcruit_tap_rawpostgresql_spark.state import StateStore
    from youcruit_tap_rawpostgresql_spark.tap import SparkTap

    spark = get_session(app_name="tap-rawpostgresql-spark")
    if args.sf_dir:
        register_testdata(spark, args.sf_dir)
    tap = SparkTap(
        config, spark, state=StateStore(args.state), catalog=input_catalog
    )
    try:
        if args.test:
            # one-record probe per stream: catches bad SQL, missing source
            # columns (conform fails analysis), and unreadable sources
            # without emitting any Singer message or advancing state
            failed = False
            try:
                specs = tap._effective_streams()
            except Exception as exc:  # noqa: BLE001 — config-level failure
                print(f"-- test config: FAILED: {exc}", file=sys.stderr)
                return 1
            for spec in specs:
                try:
                    df, _premap, _bm = tap._prepare(spec)
                    df.limit(1).collect()
                    print(
                        f"-- test {spec.fully_qualified_name}: ok",
                        file=sys.stderr,
                    )
                except Exception as exc:  # noqa: BLE001 — report, don't die
                    failed = True
                    print(
                        f"-- test {spec.fully_qualified_name}: FAILED: {exc}",
                        file=sys.stderr,
                    )
            return 1 if failed else 0
        if args.explain:
            # resolve suppress/alias map directives — explain must show
            # the streams sync would actually run
            for spec in tap._effective_streams():
                df, _premap, _bm = tap._prepare(spec)
                print(f"== {spec.fully_qualified_name} ==")
                df.explain(mode="formatted")
            return 0
        commit = None  # Singer messages
        if args.jdbc_target is not None:
            target = config.jdbc_target
            if target is None:
                p.error("--jdbc-target requires a jdbc_target in the config")
            if target.get("table") and len(tap._effective_streams()) > 1:
                # an explicit table name + several streams would interleave
                # (append) or clobber (overwrite) them all into one table
                p.error(
                    "config.jdbc_target.table is set but multiple streams "
                    "are selected — omit 'table' so each stream loads its "
                    "own fully-qualified-name table"
                )
            commit = tap.jdbc_commits(target, mode=args.jdbc_target)
        elif args.versioned_root:
            commit = tap.versioned_commits(args.versioned_root)
        results = tap.sync_all(args.batch, args.parallel, commit)
    except BrokenPipeError:
        # downstream (Singer target or a pager on --explain) closed the
        # pipe — exit quietly like any well-behaved pipeline stage
        import os as _os

        _os.dup2(_os.open(_os.devnull, _os.O_WRONLY), sys.stdout.fileno())
        return 141  # 128 + SIGPIPE
    for r in results:
        print(
            f"-- synced {r.stream}: {r.record_count} records"
            + (f", bookmark={r.new_bookmark}" if r.new_bookmark else ""),
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
