"""Command-line entry — parity with the reference's operational surface.

The reference is driven as ``php OLAP.php -c add -d 2019-05-22
[-f fact]`` (OLAP.php:388-403) with fact queries configured in
``olapSettings.json`` (library_olap/README.md:26-36).  Same flags here:

    python -m opl_spark.cli -c add -d 2019-05-22 \
        --settings olapSettings.json --sources /root/testdata/sf0.001 \
        --warehouse /tmp/wh [-f loans2]

plus an ``aggregate`` command for the query side:

    python -m opl_spark.cli -c aggregate --warehouse /tmp/wh \
        --fact loans2 --cut date:1995 --drilldown loan_type

Settings format mirrors the reference's (library_olap/README.md:26-36):

    {"fact_tables": [{"name": "loans2", "fact_queries": [
        {"id": 1, "query": "SELECT ... @date ...",
         "cron": "daily", "enable": 1}]}]}
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import sys

from opl_spark.snapshot import FactQuery, SnapshotEngine


def load_settings(path: str) -> list[FactQuery]:
    """olapSettings.json → FactQuery list (library_olap/README.md:26-36)."""
    with open(path) as f:
        spec = json.load(f)
    out: list[FactQuery] = []
    for fact in spec.get("fact_tables", []):
        for q in fact.get("fact_queries", []):
            # the reference's form is {"query": {"type": "sql"|"script",
            # "value": ...}} (OLAP.php:334-348); a bare string is
            # accepted as sql shorthand
            query = q["query"]
            if isinstance(query, dict):
                qtype, qvalue = query.get("type", "sql"), query["value"]
            else:
                qtype, qvalue = "sql", query
            out.append(
                FactQuery(
                    query_id=int(q["id"]),
                    fact_table=fact["name"],
                    sql=qvalue,
                    cron=q.get("cron", "daily"),
                    enable=bool(int(q.get("enable", 1))),
                    query_type=qtype,
                )
            )
    return out


def _rollup_store(spark, warehouse: str):
    """Rollup lattice shared by serve/aggregate/advise/materialize:
    one ``<warehouse>/_lattice`` path convention.  ``-c advise`` only
    RECOMMENDS groupings; ``-c materialize`` writes them (pass each
    recommendation's cols as ``--grouping a,b``), after which serve/
    aggregate route through them.  Rollups are optional — an empty
    store routes nothing, and a stale one (fact files appended since
    materialize) is refused by the route-time version guard."""
    from opl_spark.rollups import RollupStore

    return RollupStore(spark, warehouse + "/_lattice")


def _validate_date(s: str) -> _dt.date:
    """Y-m-d validation (OLAP.php:416-420)."""
    try:
        return _dt.date.fromisoformat(s)
    except ValueError as e:
        raise SystemExit(f"invalid -d date {s!r} (expected YYYY-MM-DD): {e}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="opl-spark")
    p.add_argument(
        "-c", "--command", required=True,
        choices=["add", "aggregate", "serve", "compact", "vacuum", "advise",
                 "materialize", "lsh-advise", "srp-probe"],
    )
    p.add_argument("--host", default="127.0.0.1", help="bind address (serve)")
    p.add_argument("--port", type=int, default=8080, help="bind port (serve)")
    p.add_argument(
        "--plan-cache", type=int, default=128,
        help="serve: LRU size of the aggregate response cache: a repeated "
        "request returns its cached payload and runs no Spark job "
        "(0 disables)",
    )
    p.add_argument("-d", "--date", help="pivot date YYYY-MM-DD (add)")
    p.add_argument("-f", "--fact", help="restrict to one fact table")
    p.add_argument("--settings", help="olapSettings.json path (add)")
    p.add_argument("--sources", help="source parquet dir to register (add)")
    p.add_argument(
        "--warehouse",
        help="fact-table warehouse dir (required by every command "
             "except lsh-advise, which is pure math)",
    )
    p.add_argument("--cut")
    p.add_argument("--drilldown")
    p.add_argument("--measure")
    p.add_argument("--aggregate", dest="agg")
    p.add_argument("--hierarchy", help="dim:hierarchyName[|dim2:name2]")
    p.add_argument("--output", choices=["json", "table"], default="json")
    p.add_argument(
        "--query-log",
        help="JSON file with a list of aggregate-request param dicts (advise)",
    )
    p.add_argument(
        "--max-rollups", type=int, default=3,
        help="how many groupings advise may recommend",
    )
    p.add_argument(
        "--grouping", action="append", default=[],
        help="comma-joined physical columns of one rollup to write "
             "(materialize; repeatable)",
    )
    p.add_argument(
        "--explain", action="store_true",
        help="aggregate: print the plan cost preview (incl. scan "
             "locations — rollup-routedness evidence) instead of "
             "executing",
    )
    p.add_argument(
        "--lsh-threshold", type=float,
        help="verify-step similarity threshold (lsh-advise)",
    )
    p.add_argument(
        "--signature-budget", type=int, default=64,
        help="total minhashes / SRP bits to band (lsh-advise)",
    )
    p.add_argument(
        "--target-recall", type=float, default=0.9,
        help="recall the advised banding must reach at the threshold "
             "(lsh-advise)",
    )
    p.add_argument(
        "--lsh-kind", choices=["jaccard", "cosine"], default="jaccard",
        help="jaccard = MinHash banding, cosine = SRP banding "
             "(lsh-advise)",
    )
    p.add_argument("--store", help="persisted SRP index path (srp-probe)")
    p.add_argument(
        "--batch", help="parquet path of arriving vectors (srp-probe)"
    )
    p.add_argument(
        "--vec-col", default="embedding",
        help="embedding column in --batch (srp-probe)",
    )
    p.add_argument(
        "--id-col", default="vec_id", help="id column in --batch (srp-probe)"
    )
    p.add_argument(
        "--threshold", type=float, default=0.8,
        help="exact-cosine duplicate threshold (srp-probe)",
    )
    p.add_argument(
        "--srp-bits", type=int, default=None,
        help="SRP signature bits (srp-probe; must match the store's; "
        "default: advised from --threshold, refusing below ~cos 0.7)",
    )
    p.add_argument(
        "--srp-bands", type=int, default=None,
        help="SRP bands (srp-probe; must match the store's; default: "
        "advised from --threshold alongside --srp-bits)",
    )
    p.add_argument(
        "--no-append", action="store_true",
        help="probe only — don't append the batch's signatures "
             "(srp-probe)",
    )
    p.add_argument(
        "--exclude-self", action="store_true",
        help="make the batch's own ids invisible to the probe — the "
             "replay-safe mode the streaming leg uses (srp-probe)",
    )
    p.add_argument(
        "--report-out",
        help="write the full (vec_id, dup_of, cos) report as parquet "
             "here (srp-probe; default prints counts only)",
    )
    args = p.parse_args(argv)

    if args.explain and args.command != "aggregate":
        # --explain previews a query plan; on a mutating command it
        # would be silently ignored and the side effect would still
        # run — refuse loudly instead
        raise SystemExit("--explain is only valid with -c aggregate")

    if args.command == "lsh-advise":
        # banding-parameter advisor — pure S-curve math, no Spark
        # session, no warehouse (the RollupStore.advise of the LSH
        # tier; measured bucket occupancy lives in
        # operators.dedup.minhash_bucket_stats)
        if args.lsh_threshold is None:
            raise SystemExit("lsh-advise requires --lsh-threshold")
        try:
            if args.lsh_kind == "cosine":
                from opl_spark.operators.similarity import srp_banding_advise

                table = srp_banding_advise(
                    args.lsh_threshold, args.signature_budget,
                    target_recall=args.target_recall,
                )
            else:
                from opl_spark.operators.dedup import lsh_banding_advise

                table = lsh_banding_advise(
                    args.lsh_threshold, args.signature_budget,
                    target_recall=args.target_recall,
                )
        except ValueError as exc:
            # same clean exit contract as the missing-argument guards
            raise SystemExit(f"lsh-advise: {exc}")
        print(json.dumps({"kind": args.lsh_kind, "bandings": table}))
        return 0

    if args.command != "srp-probe" and not args.warehouse:
        raise SystemExit(f"{args.command} requires --warehouse")

    from opl_spark.session import get_spark

    spark = get_spark(app_name="opl-cli")

    if args.command == "srp-probe":
        # the operational surface of the persisted SRP-LSH index
        # (operators/similarity.py:srp_dedup_incremental): one verb
        # closes the whole build -> probe -> append loop — the FIRST
        # probe against a not-yet-built store bootstraps the index
        # (signatures written, empty report), every later probe
        # detects near-dups against all previously appended batches.
        # The `-c materialize` pattern: what the Python/streaming API
        # can do, the CLI can do without code.
        if not (args.store and args.batch):
            raise SystemExit("srp-probe requires --store and --batch")
        import os

        from opl_spark.operators.similarity import srp_dedup_incremental
        from opl_spark.sources.registry import open_parquet, write_counted

        batch = open_parquet(spark, args.batch)
        if args.vec_col not in batch.columns or args.id_col not in batch.columns:
            raise SystemExit(
                f"srp-probe: --batch needs columns {args.id_col!r} and "
                f"{args.vec_col!r} (has {batch.columns})"
            )
        first = batch.select(args.vec_col).first()
        if first is None:
            raise SystemExit("srp-probe: --batch is empty")
        dims = len(first[0])
        bootstrap = not os.path.isdir(args.store)
        report = srp_dedup_incremental(
            spark, args.store, batch, args.vec_col, args.id_col, dims,
            n_bits=args.srp_bits, bands=args.srp_bands,
            threshold=args.threshold, append=not args.no_append,
            exclude_self=args.exclude_self,
        )
        if args.report_out:
            n_dups = write_counted(report, args.report_out, "srp_probe_report")
        else:
            n_dups = report.count()
        print(json.dumps({
            "store": args.store,
            "probed": batch.count(),
            "dups": n_dups,
            "appended": not args.no_append,
            "bootstrap": bootstrap,
            "report": args.report_out,
        }))
        return 0

    if args.command == "add":
        if not (args.date and args.settings and args.sources):
            raise SystemExit("add requires -d, --settings and --sources")
        from opl_spark.sources import register_sources

        register_sources(spark, args.sources)
        facts = load_settings(args.settings)
        engine = SnapshotEngine(spark, args.warehouse)
        written = engine.run(_validate_date(args.date), facts, only_fact=args.fact)
        print(json.dumps({"written": written}))
        return 0

    if args.command == "vacuum":
        engine = SnapshotEngine(spark, args.warehouse)
        print(json.dumps({"removed": engine.vacuum()}))
        return 0

    if args.command == "compact":
        if not args.fact:
            raise SystemExit("compact requires -f/--fact")
        engine = SnapshotEngine(spark, args.warehouse)
        engine.compact(args.fact)
        print(json.dumps({"compacted": args.fact}))
        return 0

    if args.command == "advise":
        # lattice advisor: which groupings to materialize for a logged
        # aggregate workload (rollups.py:RollupStore.advise)
        if not (args.fact and args.query_log):
            raise SystemExit("advise requires -f/--fact and --query-log")
        from opl_spark.cube import CubeEngine
        from opl_spark.facts import default_catalog

        with open(args.query_log) as fh:
            log = json.load(fh)
        if not isinstance(log, list):
            raise SystemExit("--query-log must be a JSON list of param dicts")
        engine = SnapshotEngine(spark, args.warehouse)
        cube = CubeEngine(default_catalog())
        cube.register_fact(args.fact, engine.fact_frame(args.fact))
        store = _rollup_store(spark, args.warehouse)
        recs = store.advise(cube, args.fact, log, max_rollups=args.max_rollups)
        print(json.dumps({"fact": args.fact, "recommendations": recs}))
        return 0

    if args.command == "materialize":
        # write advised (or hand-picked) rollups into the shared
        # lattice — closes the advise -> materialize -> serve loop
        # from the CLI alone (ADVICE r8: advise only printed)
        if not (args.fact and args.grouping):
            raise SystemExit(
                "materialize requires -f/--fact and at least one --grouping"
            )
        from opl_spark.cube import CubeEngine
        from opl_spark.facts import default_catalog

        engine = SnapshotEngine(spark, args.warehouse)
        cube = CubeEngine(default_catalog())
        cube.register_fact(args.fact, engine.fact_frame(args.fact))
        store = _rollup_store(spark, args.warehouse)
        groupings = [
            [c.strip() for c in g.split(",") if c.strip()] for g in args.grouping
        ]
        manifest = store.materialize(cube, args.fact, groupings)
        print(
            json.dumps(
                {
                    "fact": args.fact,
                    "materialized": [
                        {"cols": info["cols"], "rows": info["rows"]}
                        for info in manifest["rollups"].values()
                    ],
                }
            )
        )
        return 0

    if args.command == "serve":
        # HTTP daemon over the warehouse — the reference's consumption
        # boundary (api-library-olap/README.md:3-13)
        from opl_spark.api import OlapApi
        from opl_spark.cube import CubeEngine
        from opl_spark.facts import default_catalog
        from opl_spark.server import OlapHttpServer

        engine = SnapshotEngine(spark, args.warehouse)
        cube = CubeEngine(default_catalog())
        served = []
        for name in [f["name"] for f in cube.catalog.fact_tables()]:
            if args.fact and name != args.fact:
                continue
            if engine.exists(name):
                cube.register_fact(name, engine.fact_frame(name))
                served.append(name)
        if not served:
            raise SystemExit("serve: no registered fact tables in warehouse")
        server = OlapHttpServer(
            OlapApi(
                cube,
                rollups=_rollup_store(spark, args.warehouse),
                plan_cache_size=args.plan_cache,
            ),
            host=args.host, port=args.port,
        )
        print(json.dumps({"serving": served, "port": server.port}))
        server.serve_forever()
        return 0

    # aggregate: serve a cube query over the warehouse facts
    if not args.fact:
        raise SystemExit("aggregate requires -f/--fact")
    from opl_spark.api import OlapApi
    from opl_spark.cube import CubeEngine
    from opl_spark.facts import default_catalog

    engine = SnapshotEngine(spark, args.warehouse)
    cube = CubeEngine(default_catalog())
    cube.register_fact(args.fact, engine.fact_frame(args.fact))
    api = OlapApi(cube, rollups=_rollup_store(spark, args.warehouse))
    params = {
        k: v
        for k, v in {
            "cut": args.cut,
            "drilldown": args.drilldown,
            "measure": args.measure,
            "aggregate": args.agg,
            "hierarchy": args.hierarchy,
            "output": "table" if args.output == "table" else None,
        }.items()
        if v
    }
    if args.explain:
        # pre-flight plan preview: scan_locations is the routedness
        # evidence (a routed aggregate scans <warehouse>/_lattice, a
        # live one scans the fact table) — pinned by
        # tests/test_api_cli.py's plan-level CLI routedness test
        print(json.dumps(api.handle(f"/olap/{args.fact}/explain", params), default=str))
        return 0
    print(json.dumps(api.handle(f"/olap/{args.fact}/aggregate", params), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
