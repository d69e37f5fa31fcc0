"""CLI — the reference tool's command surface over Spark
(reference ``commands/*``: create, query, batch, update, stats, list,
delete, related).  argparse, stdlib only.

    python -m bm25_index_tool_spark.cli create myidx --corpus corpus.parquet
    python -m bm25_index_tool_spark.cli query myidx "kubernetes networking" -n 5
    python -m bm25_index_tool_spark.cli batch myidx -i queries.txt
    python -m bm25_index_tool_spark.cli query a b c "shared terms" --merge rrf
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(cpus: str | None = None):
    from pyspark.sql import SparkSession

    master = f"local[{cpus}]" if cpus else os.environ.get("SPARK_MASTER", "local[*]")
    return (
        SparkSession.builder.master(master)
        .appName("bm25-index-tool-spark")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def _client(args):
    from pyspark.sql import SparkSession

    from bm25_index_tool_spark.client import BM25SparkClient

    # getOrCreate may hand us a session owned by an embedding process
    # (tests, a notebook); only stop it on exit if WE created it
    preexisting = SparkSession.getActiveSession() is not None
    spark = _spark(getattr(args, "cpus", None))
    spark.sparkContext.setLogLevel("ERROR")
    client = BM25SparkClient(spark, args.root)
    client._cli_owns_spark = not preexisting
    return client


def _stop(client) -> None:
    if getattr(client, "_cli_owns_spark", True):
        client.spark.stop()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="bm25-index-tool-spark")
    p.add_argument("--root", default=os.environ.get("BM25_SPARK_ROOT", os.path.expanduser("~/.bm25-spark")))
    p.add_argument("--cpus", default=None)
    p.add_argument(
        "--telemetry", action="store_true",
        help="enable span telemetry (also BM25_SPARK_TELEMETRY=1; exporter "
        "via BM25_SPARK_TELEMETRY_EXPORTER=console|file|otlp)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create", help="build an index from a parquet corpus")
    c.add_argument("name")
    c.add_argument("--corpus", required=True, help="parquet with (repo,path,commit,lang,content)")
    c.add_argument(
        "--profile", default=None,
        choices=["unicode61", "code", "code_lang"],
        help="tokenizer: unicode61 (FTS5-exact), code (identifier "
        "splitting), code_lang (identifier splitting only for code langs)",
    )
    c.add_argument("--k1", type=float, default=None)
    c.add_argument("--b", type=float, default=None)
    c.add_argument(
        "--bm25-profile", default=None, choices=["standard", "code"],
        help="named (k1,b) profile: standard=(1.5,0.75), code=(1.2,0.5)",
    )
    c.add_argument("--buckets", type=int, default=None, help="term-hash buckets (default: config.toml or 32)")
    c.add_argument("--blocks", action="store_true", help="also build the block engine store")
    c.add_argument("--vector", action="store_true", help="also chunk+embed for semantic search")
    c.add_argument("--overwrite", action="store_true")

    q = sub.add_parser("query", help="search one or more indices")
    q.add_argument("names", nargs="+", help="index name(s); last arg is the query")
    q.add_argument("-n", "--top", type=int, default=10)
    q.add_argument("--merge", default="rrf", choices=["rrf", "union", "intersection", "weighted"])
    q.add_argument("--format", default="simple", choices=["simple", "json", "table"])
    q.add_argument("--fragments", "-C", action="store_true")
    q.add_argument("--path-filter", action="append", default=None)
    q.add_argument("--exclude-path", action="append", default=None)
    q.add_argument(
        "--engine", default="auto", choices=["auto", "join", "blocks"],
        help="auto picks blocks when the index's max posting-list length "
        "crosses the WAND crossover (wand_df_threshold in config.toml)",
    )
    q.add_argument(
        "--explain", action="store_true",
        help="print the compiled Spark physical plan for this query "
        "(bucket pruning / broadcasts / top-k operator) instead of running it",
    )
    q.add_argument("--related-to", default=None, help="find docs related to this path instead")
    q.add_argument("--semantic", action="store_true", help="chunk-level semantic search (needs create --vector)")

    bt = sub.add_parser("batch", help="set-at-a-time batch queries → JSONL")
    bt.add_argument("name")
    bt.add_argument("-i", "--input", default="-", help="query file (one per line) or - for stdin")
    bt.add_argument("-n", "--top", type=int, default=10)

    u = sub.add_parser("update", help="incremental update from a fresh corpus parquet")
    u.add_argument("name")
    u.add_argument("--corpus", required=True)

    cp = sub.add_parser(
        "compact", help="fold LSM update segments back into the base index"
    )
    cp.add_argument("name")
    cp.add_argument(
        "--tiered", action="store_true",
        help="merge the oldest half into one segment instead of the full "
        "fold (cost proportional to the delta; base untouched)",
    )

    s = sub.add_parser("stats", help="index statistics")
    s.add_argument("name")

    inf = sub.add_parser("info", help="per-index metadata detail view")
    inf.add_argument("name")
    inf.add_argument("--format", "-f", default="simple", choices=["simple", "json"])

    sub.add_parser("list", help="list indices")

    d = sub.add_parser("delete", help="delete an index")
    d.add_argument("name")

    h = sub.add_parser(
        "history",
        help="recent / searched query history; --clear wipes it, --stats "
        "summarizes (reference history clear/stats subcommands)",
    )
    h.add_argument("--search", default=None)
    h.add_argument("-n", "--top", type=int, default=10)
    h.add_argument(
        "--clear", action="store_true",
        help="permanently delete all history entries",
    )
    h.add_argument(
        "--stats", action="store_true",
        help="total count, top queries, average elapsed time",
    )

    ann = sub.add_parser(
        "ann",
        help="build/refresh the IVF ANN index over an index's vector store "
        "(semantic search auto-uses it while fresh; re-run after compact)",
    )
    ann.add_argument("name")
    ann.add_argument("-m", "--cells", type=int, default=64)

    comp = sub.add_parser("completion", help="emit a shell completion script")
    comp.add_argument("shell", choices=["bash", "zsh", "fish"])

    sub.add_parser(
        "embedders",
        help="list registered embedding models (reference list-models "
        "analogue; register more via vector.register_embedder)",
    )

    args = p.parse_args(argv)

    # telemetry lifecycle mirrors the reference cli.py:88-92: flag OR env
    # enables, atexit flushes the exporter
    import atexit

    from bm25_index_tool_spark.telemetry import TelemetryConfig, TelemetryService

    tcfg = TelemetryConfig.from_env()
    tcfg.enabled = args.telemetry or tcfg.enabled
    svc = TelemetryService.get_instance()
    svc.initialize(tcfg)
    atexit.register(svc.shutdown)

    # completion/embedders need no Spark session — handle before client
    # startup
    if args.cmd == "completion":
        from bm25_index_tool_spark.completion import generate

        print(generate(args.shell))
        return 0
    if args.cmd == "embedders":
        # reference `list-models` lists the provider's embedding models
        # (commands/list_models.py, AWS Bedrock); here the model registry
        # is the in-process embedder plug-in table
        from bm25_index_tool_spark.config import load_config
        from bm25_index_tool_spark.vector import DEFAULT_EMBEDDER, EMBEDDERS

        cfg_default = load_config(args.root).default_embedder
        for name in sorted(EMBEDDERS):
            tags = []
            if name == cfg_default:
                tags.append("config default")
            if name == DEFAULT_EMBEDDER:
                tags.append("built-in default")
            suffix = f"  ({', '.join(tags)})" if tags else ""
            print(f"{name}{suffix}")
        return 0

    client = _client(args)
    try:
        _dispatch(p, args, client)
    except ValueError as e:
        # the client's refusals (an index of another format, a missing
        # index, a query with no searchable tokens) are messages for the
        # user, not tracebacks
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        _stop(client)
    return 0


def _dispatch(p: argparse.ArgumentParser, args, client) -> None:
    import json

    from bm25_index_tool_spark import formatters as FMT

    if args.cmd == "create":
        from bm25_index_tool_spark.build import BM25Params
        from bm25_index_tool_spark.config import params_from_profile
        from bm25_index_tool_spark.sources import read_corpus

        corpus = read_corpus(client.spark, args.corpus)
        if args.bm25_profile:
            params = params_from_profile(args.bm25_profile)
            if args.k1 is not None:
                params.k1 = args.k1
            if args.b is not None:
                params.b = args.b
        elif args.k1 is not None or args.b is not None:
            # partial override: start from <root>/config.toml defaults so a
            # user who set default_b there and passes only --k1 keeps their
            # configured b (ADVICE r02)
            params = client.config.bm25_params()
            if args.k1 is not None:
                params.k1 = args.k1
            if args.b is not None:
                params.b = args.b
        else:
            params = None  # fall through to <root>/config.toml defaults
        m = client.create_index(
            args.name,
            corpus,
            tokenizer_profile=args.profile,
            params=params,
            num_buckets=args.buckets,
            overwrite=args.overwrite,
            build_block_engine=args.blocks,
            build_vector_index=args.vector,
        )
        print(f"Created index '{args.name}': {m.num_docs} docs, avgdl {m.avgdl:.2f}")
    elif args.cmd == "query":
        if args.related_to:
            # related-document search takes NO query string: every
            # positional is an index name (previously the last one was
            # consumed as a throwaway query — code-review r05)
            names, query = args.names, ""
        else:
            *names, query = args.names
        if not names:
            p.error("usage: query <index...> <query>")
        if args.explain:
            print(
                client.explain_search(
                    names[0], query, args.top, engine=args.engine
                )
            )
            return
        if args.semantic:
            if len(names) == 1:
                results = client.search_semantic(names[0], query, args.top)
            else:
                results = client.search_semantic_multi(names, query, args.top)
            print(FMT.format_semantic(results, query))
            return
        if args.related_to:
            results = client.search_related(names[0], args.related_to, args.top)
        elif len(names) == 1:
            results = client.search(
                names[0],
                query,
                args.top,
                fragments=args.fragments,
                path_filter=args.path_filter,
                exclude_path=args.exclude_path,
                engine=args.engine,
            )
        else:
            # multi-index search fuses join-engine results and supports
            # none of these single-index options — error loudly instead of
            # silently returning unfiltered/unfragmented results
            # (code-review r05)
            unsupported = [
                flag
                for flag, on in (
                    ("--path-filter", bool(args.path_filter)),
                    ("--exclude-path", bool(args.exclude_path)),
                    ("--fragments", args.fragments),
                    ("--engine blocks", args.engine == "blocks"),
                )
                if on
            ]
            if unsupported:
                p.error(
                    "multi-index query does not support: "
                    + ", ".join(unsupported)
                )
            results = client.search_multi(
                names, query, args.top, merge_strategy=args.merge
            )
        print(FMT.FORMATTERS[args.format](results, query))
    elif args.cmd == "batch":
        src = sys.stdin if args.input == "-" else open(args.input)
        queries = [ln.strip() for ln in src if ln.strip()]
        rows = [r.asDict() for r in client.batch_search_rows(args.name, queries, args.top)]
        print(FMT.format_batch_jsonl(rows, queries))
    elif args.cmd == "update":
        from bm25_index_tool_spark.sources import read_corpus

        corpus = read_corpus(client.spark, args.corpus)
        m = client.update_index(args.name, corpus)
        print(f"Updated '{args.name}': now {m.num_docs} docs")
    elif args.cmd == "stats":
        print(json.dumps(client.stats(args.name), indent=2))
    elif args.cmd == "info":
        meta = client.info(args.name)
        if args.format == "json":
            print(json.dumps(meta, indent=2, sort_keys=True))
        else:
            print(FMT.format_info(meta))
    elif args.cmd == "list":
        for info in client.list_indices():
            print(f"{info['name']}: {info['file_count']} docs (created {info['created_at']})")
    elif args.cmd == "compact":
        n = client.compact_index(args.name, tiered=args.tiered)
        kind = "Tier-merged" if args.tiered else "Compacted"
        print(f"{kind} '{args.name}': folded {n} segment(s)")
    elif args.cmd == "delete":
        client.delete_index(args.name)
        print(f"Deleted '{args.name}'")
    elif args.cmd == "ann":
        meta = client.build_vector_ann(args.name, m=args.cells)
        rec = meta.get("expected_recall_at_default")
        print(
            f"ANN index for '{args.name}': {meta['n_chunks']} chunks in "
            f"{meta['m']} cells ({meta['quantizer']}); default nprobe "
            f"{meta['nprobe_default']}"
            + (f" (estimated recall@10 {rec})" if rec is not None else "")
        )
    elif args.cmd == "history":
        if args.clear:
            n = client.history.clear()
            print(
                f"Deleted {n} history entries." if n else "History is already empty."
            )
        elif args.stats:
            st = client.history.stats(top_n=args.top)
            print(f"Total history entries: {st['total']}")
            print(f"Average elapsed: {st['avg_elapsed_seconds']:.3f}s")
            for q in st["top_queries"]:
                print(
                    f"  {q['count']:>4}x  {q['query']!r}  "
                    f"(avg {q['avg_elapsed_seconds']:.3f}s)"
                )
        else:
            rows = (
                client.history.search(args.search, args.top)
                if args.search
                else client.history.recent(args.top)
            )
            for r in rows:
                print(f"{r['timestamp']}  {r['query']!r}  ({r['result_count']} results, {r['elapsed_seconds']:.2f}s)")


if __name__ == "__main__":
    raise SystemExit(main())
