"""Batch-job CLI — the engine's spark-submit surface.

Mirrors the reference's operational entry points (README.md:111-115;
app/spark_cassandra_etl_award_amount_aggregator.py:100-116 validated
--aggregator with argparse) with parquet IO:

  python -m bigdata_usaspending_spark.cli rollup \
      --awards /path/awards.parquet --geo /path/geo.parquet \
      --aggregator recipient_name --output /path/rollup
  python -m bigdata_usaspending_spark.cli rollup-month \
      --awards ... --geo ... --aggregator awarding_sub_agency --output ...
  python -m bigdata_usaspending_spark.cli train \
      --awards ... --models-dir ... [--report report.txt]
  python -m bigdata_usaspending_spark.cli build-corpus \
      --warc '/crawl/*.warc.gz' --output /corpus [--decontaminate bench.pq]

Each subcommand builds the session, runs one lazily-planned job, writes the
sink, and exits — the §3.1 lifecycle with the Cassandra connector swapped
for columnar parquet.
"""

from __future__ import annotations

import argparse
import sys

AGGREGATORS = ("recipient_name", "awarding_sub_agency")


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="bigdata_usaspending_spark")
    sub = p.add_subparsers(dest="job", required=True)

    r = sub.add_parser("rollup", help="total award amount by entity (flagship ETL)")
    r.add_argument("--awards", required=True)
    r.add_argument("--geo", required=True)
    r.add_argument("--aggregator", required=True, choices=AGGREGATORS)
    r.add_argument("--output", required=True)

    m = sub.add_parser("rollup-month", help="total award amount by (entity, month)")
    m.add_argument("--awards", required=True)
    m.add_argument("--geo", required=True)
    m.add_argument("--aggregator", required=True, choices=AGGREGATORS)
    m.add_argument("--output", required=True)

    t = sub.add_parser("train", help="fit the three ML pipelines")
    t.add_argument("--awards", required=True)
    t.add_argument("--models-dir", required=True)
    t.add_argument("--report", default=None)
    t.add_argument(
        "--heatmap", default=None,
        help="write the annotated correlation heatmap SVG here "
        "(reference: static/images/correlation_heatmap.png)",
    )

    q = sub.add_parser(
        "sql", help="run ANSI SQL over the star-schema views (ad-hoc surface)"
    )
    q.add_argument("--sf-dir", required=True, help="directory of *.parquet tables")
    q.add_argument("--query", required=True, help="SQL text; tables are view names")
    q.add_argument("--output", default=None, help="write result parquet here")
    q.add_argument("--limit", type=int, default=20, help="rows to print without --output")

    b = sub.add_parser(
        "build-corpus",
        help="WARC shards (or a documents parquet) -> curated, deduped, "
        "packed training corpus (plans/build_corpus)",
    )
    src = b.add_mutually_exclusive_group(required=True)
    src.add_argument("--warc", help="path/glob of .warc/.warc.gz shards")
    src.add_argument(
        "--documents",
        help="parquet with doc_id/text/source[/target_uri] columns",
    )
    b.add_argument("--output", required=True)
    b.add_argument(
        "--decontaminate", default=None,
        help="parquet of benchmark rows (text column); enables the "
        "n-gram decontamination tier",
    )
    b.add_argument("--langs", default="en", help="comma-separated keep set")
    b.add_argument("--min-tokens", type=int, default=4)
    b.add_argument("--max-punct-ratio", type=float, default=0.5)
    b.add_argument(
        "--near-threshold", type=float, default=0.8,
        help="near-dup jaccard threshold; negative disables the tier",
    )
    b.add_argument(
        "--near-method", choices=("minhash", "winnow"), default="minhash",
        help="near-dup tier: banded minhash-LSH over token shingles, or "
        "MOSS rolling-hash winnowing fingerprints (deterministic recall "
        "for shared substrings >= w+k-1 chars)",
    )
    b.add_argument(
        "--near-max-df", type=int, default=None,
        help="winnow tier stop-gram cap: fingerprints in more than this "
        "many docs stop generating candidates (boilerplate guard)",
    )
    b.add_argument(
        "--near-action", choices=("drop", "scrub"), default="drop",
        help="what the near tier does to a verified near-dup: drop the "
        "non-min member whole, or (winnow method only) scrub the matched "
        "covering span out of it, recount tokens and re-apply the "
        "min-tokens gate",
    )
    b.add_argument("--quota-per-source", type=int, default=None)
    b.add_argument("--block-size", type=int, default=512)
    b.add_argument("--seed", type=int, default=0)
    b.add_argument(
        "--no-pii-scrub", action="store_true",
        help="skip the PII redaction stage",
    )
    b.add_argument(
        "--block-hosts", default="",
        help="comma-separated URL hosts to drop before any other tier "
        "(the blocked-domains gate; WARC input only)",
    )
    b.add_argument(
        "--dedup-index", default=None,
        help="path of a persisted winnow-pos index of an already-"
        "committed corpus: batch docs that near-dup ANY committed doc "
        "(fingerprint Jaccard >= --near-threshold, parameters from the "
        "index meta) drop after exact dedup — the batch build as "
        "incremental ingestion",
    )
    b.add_argument(
        "--staging-dir", default=None,
        help="stage the winnow near tier's shared fingerprint frame to "
        "this directory (one write + one scan per tier branch) instead "
        "of recomputing it per concurrent branch — the corpus-scale "
        "dial; leave unset for small builds where the blocking write "
        "costs more than the branch race",
    )
    b.add_argument(
        "--datasheet", default=None,
        help="also write the per-source datasheet of the INPUT corpus "
        "here (doc/token counts, dup rate, token quartiles — profiled "
        "before the dedup tiers, where dup rate still means something)",
    )
    b.add_argument(
        "--manifest", default=None,
        help="also write the per-sequence training manifest parquet here "
        "(ordered doc spans per packed sequence — the data-loader index)",
    )
    b.add_argument(
        "--host-profile", default=None,
        help="also write the per-host crawl accounting parquet here "
        "(fetches, bytes, URLs, time span, request rate; WARC input only)",
    )
    b.add_argument(
        "--stream", action="store_true",
        help="treat --documents as a STREAMED landing directory and keep "
        "the packed corpus incrementally fresh (streaming/jobs."
        "stream_build_corpus: exactly-once versioned state at --output, "
        "each micro-batch continues the committed token stream; the "
        "gate/exact-dedup/pack tiers — the near tiers are the batch "
        "builder's). Requires --documents; --checkpoint REQUIRED once "
        "state exists",
    )
    b.add_argument(
        "--checkpoint", default=None,
        help="--stream: streaming checkpoint location",
    )
    b.add_argument(
        "--url-col", default=None,
        help="--stream: URL column for the streaming URL-dedup tier",
    )

    ai = sub.add_parser(
        "ann-index",
        help="build / incrementally add to / search / remove from a "
        "persisted ANN index (IVF or IVF-PQ vector index; "
        "operators/similarity)",
    )
    ai.add_argument(
        "action",
        choices=[
            "build", "add", "search", "compact", "stats", "stream-add",
            "remove", "stream-search",
        ],
    )
    ai.add_argument(
        "--queries", default=None,
        help="stream-search: streamed landing directory of "
        "(query_id, vector) parquet rows",
    )
    ai.add_argument(
        "--sink", default=None,
        help="stream-search: per-query top-k hit sink (batch_id-keyed "
        "partitions)",
    )
    ai.add_argument(
        "--query-id-col", default="query_id",
        help="stream-search: query id column in the streamed rows",
    )
    ai.add_argument(
        "--max-queries-per-batch", type=int, default=1024,
        help="stream-search: serving-batch cap (raises rather than "
        "pulling an unbounded stream driver-side)",
    )
    ai.add_argument("--index", required=True, help="index root directory")
    ai.add_argument(
        "--vectors", default=None,
        help="parquet of (id, vector) rows (build / add)",
    )
    ai.add_argument("--id-col", default="vec_id")
    ai.add_argument("--vec-col", default="embedding")
    ai.add_argument(
        "--cells", type=int, default=16, help="coarse cell count (build)"
    )
    ai.add_argument(
        "--refine-iters", type=int, default=2,
        help="Lloyd refinement iterations over the deterministic "
        "hash-bucket init (build)",
    )
    ai.add_argument(
        "--pq", action="store_true",
        help="build an IVF-PQ index (residual product quantization); "
        "add / search autodetect the layout",
    )
    ai.add_argument("--m", type=int, default=16, help="PQ subspaces (build --pq)")
    ai.add_argument(
        "--kc", type=int, default=16,
        help="PQ codebook size per subspace (build --pq)",
    )
    ai.add_argument(
        "--train-cap", type=int, default=65_536,
        help="codebook training sample bound (build --pq)",
    )
    ai.add_argument(
        "--opq", action="store_true",
        help="build --pq only: learn an orthogonal OPQ rotation "
        "(Procrustes + warm-started Lloyd, deterministic) and build the "
        "index in the rotated space; adds and searches apply it "
        "automatically",
    )
    ai.add_argument(
        "--opq-iters", type=int, default=3,
        help="OPQ alternation iterations (build --opq)",
    )
    ai.add_argument(
        "--query", default=None,
        help="comma-separated query vector (search); use the "
        "--query=-0.1,0.2,... form when the first component is negative "
        "(argparse reads a bare leading '-' as an option)",
    )
    ai.add_argument("--k", type=int, default=10)
    ai.add_argument("--nprobe", type=int, default=2)
    ai.add_argument(
        "--rerank-factor", type=int, default=4,
        help="IVF-PQ exact-rerank multiplier (search)",
    )
    ai.add_argument(
        "--adc-prune", action="store_true",
        help="IVF-PQ search: skip probed cells whose ADC lower bound "
        "exceeds the phase-1 shortlist threshold (identical results, "
        "fewer cell directories read)",
    )
    ai.add_argument(
        "--adaptive", action="store_true",
        help="IVF-PQ search: ignore --nprobe and scan cells by the "
        "Best-Bin-First lower bound until none can hold a shortlist "
        "row — results bit-identical to probing every cell",
    )
    ai.add_argument("--output", default=None, help="write search result parquet here")
    ai.add_argument(
        "--batch-id", type=int, default=None,
        help="add only: apply the batch EXACTLY-ONCE under this id "
        "(prefix-renamed files + the add manifest; replays skip, "
        "crashed batches self-clean on redo)",
    )
    ai.add_argument(
        "--checkpoint", default=None,
        help="stream-add / stream-search: streaming checkpoint location "
        "(REQUIRED once the add manifest exists / the sink holds output)",
    )
    ai.add_argument(
        "--compact-every", type=int, default=None,
        help="stream-add: compact the index after every Nth applied "
        "batch (bounds steady-state fragmentation)",
    )
    ai.add_argument(
        "--ids", default=None,
        help="remove: comma-separated id values to tombstone (typed via "
        "the index's id column type)",
    )
    ai.add_argument(
        "--ids-parquet", default=None,
        help="remove: parquet of ids to tombstone (carries --id-col; "
        "the scale path)",
    )

    wi = sub.add_parser(
        "winnow-index",
        help="persisted positioned rolling-hash near-dup index: build / "
        "add / spans / scrub / dedup / remove / stream-dedup (the "
        "ann-index lifecycle applied to text overlap)",
    )
    wi.add_argument(
        "action",
        choices=[
            "build", "add", "spans", "scrub", "dedup", "compact", "stats",
            "remove", "stream-dedup", "stream-scrub",
        ],
    )
    wi.add_argument(
        "--sink", default=None,
        help="stream-dedup / stream-scrub: sink root (batch_id-keyed "
        "partitions: survivor flags / scrubbed rows)",
    )
    wi.add_argument(
        "--checkpoint", default=None,
        help="stream-dedup / stream-scrub: streaming checkpoint location "
        "(REQUIRED once the add manifest exists / the sink holds output)",
    )
    wi.add_argument(
        "--compact-every", type=int, default=None,
        help="stream-dedup: compact the index after every Nth applied "
        "batch (bounds steady-state fragmentation)",
    )
    wi.add_argument(
        "--evidence", action="store_true",
        help="stream-dedup: dropped sink rows carry the positioned "
        "drop-evidence structs",
    )
    wi.add_argument(
        "--ids", default=None,
        help="remove: comma-separated doc ids to tombstone (typed via "
        "the index meta's id type)",
    )
    wi.add_argument(
        "--ids-parquet", default=None,
        help="remove: parquet of doc ids to tombstone (carries --id-col; "
        "the scale path)",
    )
    wi.add_argument("--index", required=True, help="index root directory")
    wi.add_argument(
        "--documents", default=None,
        help="parquet of (id, text) rows (all actions except compact)",
    )
    wi.add_argument("--id-col", default="doc_id")
    wi.add_argument("--text-col", default="text")
    wi.add_argument(
        "--k", type=int, default=8,
        help="character gram size (build only — probes and adds load "
        "the index's saved parameters)",
    )
    wi.add_argument("--w", type=int, default=4, help="window size (build only)")
    wi.add_argument(
        "--portable", action="store_true",
        help="md5-derived 60-bit hash instead of xxhash64 (build only)",
    )
    wi.add_argument(
        "--threshold", type=float, default=0.5,
        help="fingerprint-Jaccard verify threshold (spans/scrub/dedup)",
    )
    wi.add_argument(
        "--max-df", type=int, default=None,
        help="stop-gram cap over combined index+batch document frequency",
    )
    wi.add_argument("--output", default=None, help="write result parquet here")

    sl = sub.add_parser(
        "stream-ledger",
        help="versioned-LEDGER streaming dedup/scrub jobs (full-state "
        "forms — the scale forms live under winnow-index stream-dedup "
        "/ ann-index stream-add): near-dedup (winnow ledger), "
        "span-scrub (positioned ledger), semantic (embedding ledger)",
    )
    sl.add_argument(
        "action", choices=["near-dedup", "span-scrub", "semantic"]
    )
    sl.add_argument(
        "--documents", default=None,
        help="near-dedup / span-scrub: streamed landing directory of "
        "(id, text) parquet rows",
    )
    sl.add_argument(
        "--vectors", default=None,
        help="semantic: streamed landing directory of (id, vector) rows",
    )
    sl.add_argument(
        "--state", required=True,
        help="versioned-state root (exactly-once ledger; readers take "
        "the committed snapshot)",
    )
    sl.add_argument(
        "--checkpoint", default=None,
        help="streaming checkpoint (REQUIRED once state exists)",
    )
    sl.add_argument("--id-col", default=None,
                    help="default doc_id (text) / vec_id (semantic)")
    sl.add_argument("--text-col", default="text")
    sl.add_argument("--vec-col", default="embedding")
    sl.add_argument("--k", type=int, default=8)
    sl.add_argument("--w", type=int, default=4)
    sl.add_argument("--threshold", type=float, default=None,
                    help="default 0.5 (winnow jaccard) / 0.9 (cosine)")
    sl.add_argument("--portable", action="store_true")
    sl.add_argument("--max-df", type=int, default=None)
    sl.add_argument(
        "--evidence", action="store_true",
        help="near-dedup: ledger drop rows carry the positioned "
        "drop-evidence structs",
    )
    sl.add_argument(
        "--centroids", default=None,
        help="semantic: parquet of (cell, centroid) rows — the saved "
        "coarse model batches are assigned with",
    )

    pr = sub.add_parser(
        "profile", help="one-pass ANALYZE-style column profile of a table"
    )
    pr.add_argument("--sf-dir", required=True, help="directory of *.parquet tables")
    pr.add_argument("--table", required=True, help="table/view name to profile")
    pr.add_argument(
        "--approx", action="store_true",
        help="HLL distinct counts (one pass, no expand) instead of exact",
    )
    pr.add_argument("--output", default=None, help="write result parquet here")
    return p


def _cli_remove_ids(spark, args, id_type: str):
    """Shared head of the two index ``remove`` verbs: resolve the
    tombstone ids from exactly one of --ids (comma-separated literals,
    coerced to the index's saved id type) or --ids-parquet (a frame
    carrying --id-col — the scale path)."""
    if bool(args.ids) == bool(args.ids_parquet):
        raise SystemExit(
            f"{args.job} remove needs exactly one of --ids / --ids-parquet"
        )
    if args.ids_parquet:
        return spark.read.parquet(args.ids_parquet)
    vals = [v.strip() for v in args.ids.split(",") if v.strip()]

    def _coerce(conv):
        try:
            return [conv(v) for v in vals]
        except (ValueError, ArithmeticError) as exc:
            raise SystemExit(
                f"{args.job} remove: could not parse --ids as the "
                f"index's id type {id_type}: {exc}"
            )

    if id_type in ("tinyint", "smallint", "int", "bigint"):
        return _coerce(int)
    if id_type in ("float", "double"):
        return _coerce(float)
    if id_type.startswith("decimal"):
        import decimal

        return _coerce(decimal.Decimal)
    if id_type == "date":
        import datetime

        return _coerce(datetime.date.fromisoformat)
    if id_type.startswith("timestamp"):
        import datetime

        return _coerce(datetime.datetime.fromisoformat)
    if id_type == "boolean":
        def _to_bool(v: str) -> bool:
            lv = v.lower()
            if lv in ("true", "1"):
                return True
            if lv in ("false", "0"):
                return False
            raise ValueError(f"{v!r} is not a boolean literal")

        return _coerce(_to_bool)
    if id_type in ("string", "varchar(65535)") or id_type.startswith(
        ("varchar", "char")
    ):
        return vals
    # binary / struct / array id types have no unambiguous CLI literal
    # form — point at the typed path instead of failing downstream in
    # createDataFrame with an opaque type error (round-14 ADVICE)
    raise SystemExit(
        f"{args.job} remove: --ids literals are not supported for index "
        f"id type {id_type}; pass the ids as a parquet frame via "
        "--ids-parquet"
    )


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    from .session import get_spark

    spark = get_spark(f"cli-{args.job}")
    if args.job in ("rollup", "rollup-month"):
        from .plans import rollups

        awards = spark.read.parquet(args.awards)
        geo = spark.read.parquet(args.geo)
        if args.job == "rollup":
            out = rollups.total_by_entity(
                awards, geo, args.aggregator, args.aggregator, "award_amount",
                carried_dim_cols=("latitude", "longitude"),
            )
        else:
            out = rollups.total_by_month(
                awards, geo, args.aggregator, args.aggregator,
                "start_date", "award_amount",
            )
        rollups.write_rollup(out, args.output)
        print(f"wrote {out.count()} rollup rows to {args.output}")
        return 0

    if args.job == "train":
        from .ml import pipelines as ml
        from .ml.report import write_report

        result = ml.train_all(spark.read.parquet(args.awards))
        ml.save_models(result, args.models_dir)
        if args.report:
            write_report(result, args.report)
        if args.heatmap and result.correlation is not None:
            from .ml.heatmap import write_correlation_heatmap

            write_correlation_heatmap(
                result.correlation, result.correlation_cols, args.heatmap
            )
        print(
            f"trained: rmse={result.regression_rmse:.2f} "
            f"auc={result.classification_auc:.4f} "
            f"centers={len(result.cluster_centers)} -> {args.models_dir}"
        )
        return 0

    if args.job == "build-corpus":
        from .plans.build_corpus import (
            CorpusBuildConfig,
            build_corpus,
            write_corpus,
        )

        if args.stream:
            from .streaming import jobs as stream_jobs

            if not args.documents:
                raise SystemExit(
                    "build-corpus --stream needs --documents (a streamed "
                    "landing directory of document parquet files)"
                )
            schema = spark.read.parquet(args.documents).schema
            stream_jobs.stream_build_corpus(
                spark.readStream.schema(schema).parquet(args.documents),
                args.output,
                langs=tuple(
                    v.strip().lower()
                    for v in args.langs.split(",") if v.strip()
                ),
                min_tokens=args.min_tokens,
                max_punct_ratio=args.max_punct_ratio,
                block_size=args.block_size,
                scrub_pii=not args.no_pii_scrub,
                url_col=args.url_col,
                checkpoint=args.checkpoint,
            ).stop()
            from .io import read_versioned_state

            state = read_versioned_state(spark, args.output)
            n = (
                state.filter("position IS NOT NULL").count()
                if state is not None else 0
            )
            print(f"streamed corpus state: {n} packed rows ({args.output})")
            return 0
        if args.warc:
            from .sources.warc import read_warc, warc_responses_to_documents

            raw = read_warc(spark, args.warc)
            if args.host_profile:
                from .sources.warc import warc_host_profile

                warc_host_profile(raw).write.mode("overwrite").parquet(
                    args.host_profile
                )
            docs = warc_responses_to_documents(raw)
        else:
            if args.host_profile:
                raise SystemExit(
                    "--host-profile needs --warc input (documents parquet "
                    "has no fetch records)"
                )
            docs = spark.read.parquet(args.documents)
        bench = (
            spark.read.parquet(args.decontaminate)
            if args.decontaminate else None
        )
        # normalize list flags: langid() emits lowercase codes and
        # host_of() lowercases hosts, so unstripped/mixed-case entries
        # ('en, fr' / 'Spam.Example') would silently match nothing
        cfg = CorpusBuildConfig(
            langs=tuple(
                v.strip().lower()
                for v in args.langs.split(",") if v.strip()
            ),
            block_hosts=tuple(
                v.strip().lower()
                for v in args.block_hosts.split(",") if v.strip()
            ),
            min_tokens=args.min_tokens,
            max_punct_ratio=args.max_punct_ratio,
            near_threshold=(
                None if args.near_threshold < 0 else args.near_threshold
            ),
            near_method=args.near_method,
            near_max_df=args.near_max_df,
            near_action=args.near_action,
            quota_per_source=args.quota_per_source,
            block_size=args.block_size,
            seed=args.seed,
            scrub_pii=not args.no_pii_scrub,
        )
        out = build_corpus(
            docs, benchmark=bench, cfg=cfg, dedup_index=args.dedup_index,
            staging_dir=args.staging_dir,
        )
        write_corpus(out, args.output)
        written = spark.read.parquet(args.output)
        if args.datasheet:
            from .plans.build_corpus import corpus_datasheet

            # profile the INPUT corpus, not the curated output — the
            # datasheet's duplication-rate column is structurally zero
            # after the dedup tiers have run
            corpus_datasheet(docs).write.mode("overwrite").parquet(
                args.datasheet
            )
        if args.manifest:
            from .plans.build_corpus import sequence_manifest

            sequence_manifest(written).write.mode("overwrite").parquet(
                args.manifest
            )
        from pyspark.sql import functions as F

        n, seqs = written.agg(
            F.count(F.lit(1)), F.max("seq_id")
        ).first()
        print(
            f"wrote {n} documents / {0 if seqs is None else seqs + 1} "
            f"packed sequences to {args.output}"
        )
        return 0

    if args.job == "sql":
        from .catalog import register_views

        register_views(spark, args.sf_dir)
        out = spark.sql(args.query)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            print(f"wrote {spark.read.parquet(args.output).count()} rows to {args.output}")
        else:
            out.show(args.limit, truncate=False)
        return 0

    if args.job == "ann-index":
        from pyspark.sql import functions as F

        from . import index_store
        from .io import local_frame, model_row_count
        from .operators import similarity

        if args.action in ("build", "add", "stream-add") and not args.vectors:
            raise SystemExit(f"ann-index {args.action} needs --vectors")
        if args.action == "stream-search":
            from .streaming import jobs as stream_jobs

            if not args.queries or not args.sink:
                raise SystemExit(
                    "ann-index stream-search needs --queries (the "
                    "streamed landing directory) and --sink"
                )
            schema = spark.read.parquet(args.queries).schema
            stream_jobs.stream_ann_search(
                spark.readStream.schema(schema).parquet(args.queries),
                args.index, args.sink,
                k=args.k, nprobe=args.nprobe,
                rerank_factor=args.rerank_factor,
                query_id_col=args.query_id_col, vec_col=args.vec_col,
                max_queries_per_batch=args.max_queries_per_batch,
                index_id_col=args.id_col, index_vec_col=args.vec_col,
                adc_prune=args.adc_prune,
                adaptive_nprobe=args.adaptive,
                checkpoint=args.checkpoint,
            ).stop()
            n = spark.read.parquet(args.sink).count()
            print(f"streamed search: {n} hit rows ({args.sink})")
            return 0
        if args.action == "stream-add":
            from .streaming import jobs as stream_jobs

            schema = spark.read.parquet(args.vectors).schema
            stream_jobs.stream_ann_index_add(
                spark.readStream.schema(schema).parquet(args.vectors),
                args.index, id_col=args.id_col, vec_col=args.vec_col,
                checkpoint=args.checkpoint,
                compact_every=args.compact_every,
            ).stop()
            n = similarity._read_index_vectors(spark, args.index).count()
            print(f"index now holds {n} vectors ({args.index})")
            return 0
        if args.action == "compact":
            stats = similarity.ann_index_compact(spark, args.index)
            print(
                f"compacted {args.index}: {stats['files_before']} -> "
                f"{stats['files_after']} files ({stats['rows']} vectors, "
                f"{stats['removed_rows']} tombstoned rows dropped)"
            )
            return 0
        if args.action == "stats":
            import json as _json

            print(_json.dumps(similarity.ann_index_stats(spark, args.index)))
            return 0
        if args.action == "remove":
            ids = _cli_remove_ids(
                spark, args,
                index_store.read(spark, args.index, "vectors.parquet")
                .schema[args.id_col].dataType.simpleString(),
            )
            rep = similarity.ann_index_remove(
                spark, args.index, ids, id_col=args.id_col
            )
            print(
                f"tombstoned {rep['matched_live']} of {rep['requested']} "
                f"requested ids ({rep['tombstoned_total']} pending — "
                f"compact to drop physically)"
            )
            return 0
        if args.action == "build":
            df = spark.read.parquet(args.vectors)
            rotation = None
            if args.opq:
                if not args.pq:
                    raise SystemExit(
                        "--opq needs --pq (the rotation exists to help "
                        "product quantization; plain IVF cosine is "
                        "rotation-invariant)"
                    )
                # faiss IndexPreTransform: learn the orthogonal rotation
                # on a bounded sample, then build the WHOLE index in the
                # rotated space; the matrix persists alongside so adds
                # and probes map raw inputs into it automatically
                rotation, _cb0, audit = similarity.opq_train_driver(
                    similarity._bounded_train_frame(
                        df.select(args.id_col, args.vec_col),
                        args.id_col, args.train_cap,
                    ),
                    vec_col=args.vec_col, m=args.m, k=args.kc,
                    iters=args.opq_iters,
                )
                print(
                    f"opq: train mse {audit['mse_pq']:.6g} -> "
                    f"{audit['mse_opq']:.6g}"
                )
                df = similarity.opq_rotate(df, rotation, vec_col=args.vec_col)
            # deterministic init (portable-hash buckets -> decimal means),
            # then Lloyd refinement — k-means without RNG, so rebuilds of
            # the same vectors produce the same index
            init = similarity.mean_centroids(
                df.select(
                    F.pmod(
                        F.xxhash64(F.col(args.id_col).cast("string")),
                        F.lit(args.cells),
                    ).cast("int").alias("cell"),
                    F.col(args.vec_col).alias("embedding"),
                )
            )
            cents = similarity.ivf_refine(
                df, init, iterations=args.refine_iters,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            # localize once: refinement lineage re-scans the corpus per
            # consumer otherwise (the index-write pattern)
            cell_rows = cents.collect()
            cents = local_frame(spark, cell_rows, cents.schema)
            if args.pq:
                similarity.ivf_pq_index_build(
                    df, cents, args.index, args.m, args.kc, args.train_cap,
                    id_col=args.id_col, vec_col=args.vec_col,
                    rotation=rotation,
                )
            else:
                similarity.ivf_index_write(
                    df, cents, args.index,
                    id_col=args.id_col, vec_col=args.vec_col,
                )
            # a fresh build has no tombstones (index_store.clear_on_rebuild),
            # so the footer row count is the live vector count
            n = model_row_count(spark, f"{args.index}/vectors.parquet")
            kind = "OPQ-IVF-PQ" if args.opq else (
                "IVF-PQ" if args.pq else "IVF"
            )
            print(
                f"built {kind} index: {n} vectors / {len(cell_rows)} cells "
                f"-> {args.index}"
            )
            return 0
        if args.action == "add":
            df = spark.read.parquet(args.vectors)
            if args.batch_id is not None:
                applied = similarity.ann_index_add_batch(
                    spark, args.index, df, args.batch_id,
                    id_col=args.id_col, vec_col=args.vec_col,
                )
                n = similarity._read_index_vectors(
                    spark, args.index
                ).count()
                verb = "applied" if applied else "skipped (replay)"
                print(
                    f"batch {args.batch_id} {verb}; index now holds {n} "
                    f"vectors ({args.index})"
                )
                return 0
            similarity.ivf_index_add(
                spark, args.index, df, id_col=args.id_col, vec_col=args.vec_col
            )
            n = similarity._read_index_vectors(spark, args.index).count()
            print(f"index now holds {n} vectors ({args.index})")
            return 0
        # search
        if not args.query:
            raise SystemExit("ann-index search needs --query")
        qvec = [float(x) for x in args.query.split(",") if x.strip()]
        # Hadoop-FS existence check: layout autodetection must work on
        # whatever filesystem the index lives on
        if index_store.has(spark, args.index, "codebooks.parquet"):
            stats: dict = {}
            out = similarity.ivf_pq_index_topk(
                spark, args.index, qvec,
                k=args.k, nprobe=args.nprobe,
                rerank_factor=args.rerank_factor,
                id_col=args.id_col, vec_col=args.vec_col,
                adc_prune=args.adc_prune, probe_stats=stats,
                adaptive_nprobe=args.adaptive,
            )
            if (args.adc_prune or args.adaptive) and stats.get("pruned_cells"):
                mode = "adaptive" if args.adaptive else "adc-prune"
                print(
                    f"{mode}: scanned {len(stats['cells_scanned'])} of "
                    f"{len(stats['cells_ranked'])} probed cells "
                    f"(pruned {stats['pruned_cells']})"
                )
        else:
            if args.adaptive:
                raise SystemExit(
                    "--adaptive needs an IVF-PQ index (the Best-Bin-First "
                    "bound comes from the ADC tables; this index has no "
                    "codes) — rebuild with --pq or drop the flag"
                )
            out = similarity.ivf_index_topk(
                spark, args.index, qvec,
                k=args.k, nprobe=args.nprobe,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            print(f"wrote top-{args.k} to {args.output}")
        else:
            for row in out.collect():  # k-bounded
                print(tuple(row))
        return 0

    if args.job == "stream-ledger":
        from .io import read_versioned_state
        from .streaming import jobs as stream_jobs

        if args.action in ("near-dedup", "span-scrub"):
            if not args.documents:
                raise SystemExit(
                    f"stream-ledger {args.action} needs --documents"
                )
            schema = spark.read.parquet(args.documents).schema
            stream = spark.readStream.schema(schema).parquet(args.documents)
            kw = dict(
                k=args.k, w=args.w,
                threshold=0.5 if args.threshold is None else args.threshold,
                portable=args.portable,
                max_fingerprint_df=args.max_df,
                id_col=args.id_col or "doc_id",
                text_col=args.text_col,
                checkpoint=args.checkpoint,
            )
            if args.action == "near-dedup":
                stream_jobs.stream_near_dedup_winnow(
                    stream, args.state, evidence=args.evidence, **kw
                ).stop()
            else:
                stream_jobs.stream_span_scrub_winnow(
                    stream, args.state, **kw
                ).stop()
        else:  # semantic
            if not args.vectors or not args.centroids:
                raise SystemExit(
                    "stream-ledger semantic needs --vectors and "
                    "--centroids"
                )
            schema = spark.read.parquet(args.vectors).schema
            stream_jobs.stream_semantic_dedup(
                spark.readStream.schema(schema).parquet(args.vectors),
                args.state,
                spark.read.parquet(args.centroids),
                threshold=0.9 if args.threshold is None else args.threshold,
                id_col=args.id_col or "vec_id",
                vec_col=args.vec_col,
                checkpoint=args.checkpoint,
            ).stop()
        state = read_versioned_state(spark, args.state)
        n = state.count() if state is not None else 0
        print(
            f"stream-ledger {args.action}: committed state holds {n} "
            f"rows ({args.state})"
        )
        return 0

    if args.job == "winnow-index":
        from .operators import dedup as dd

        if args.action == "compact":
            stats = dd.winnow_index_compact(spark, args.index)
            print(
                f"compacted {args.index}: {stats['files_before']} -> "
                f"{stats['files_after']} files ({stats['rows']} docs)"
            )
            return 0
        if args.action == "stats":
            import json as _json

            print(_json.dumps(dd.winnow_index_stats(spark, args.index)))
            return 0
        if args.action == "remove":
            ix = dd._open_winnow_index(spark, args.index)
            ids = _cli_remove_ids(spark, args, ix.meta["id_type"])
            rep = dd.winnow_index_remove(
                spark, args.index, ids, id_col=args.id_col
            )
            print(
                f"tombstoned {rep['matched_live']} of {rep['requested']} "
                f"requested ids ({rep['tombstoned_total']} pending — "
                f"compact to drop physically)"
            )
            return 0
        if args.action == "stream-scrub":
            from .streaming import jobs as stream_jobs

            if not args.documents or not args.sink:
                raise SystemExit(
                    "winnow-index stream-scrub needs --documents (the "
                    "streamed landing directory) and --sink"
                )
            schema = spark.read.parquet(args.documents).schema
            stream_jobs.stream_decontaminate_spans(
                spark.readStream.schema(schema).parquet(args.documents),
                args.index, args.sink,
                threshold=args.threshold,
                max_fingerprint_df=args.max_df,
                id_col=args.id_col, text_col=args.text_col,
                checkpoint=args.checkpoint,
            ).stop()
            n = spark.read.parquet(args.sink).count()
            print(f"streamed scrub: {n} rows ({args.sink})")
            return 0
        if args.action == "stream-dedup":
            from .streaming import jobs as stream_jobs

            if not args.documents or not args.sink:
                raise SystemExit(
                    "winnow-index stream-dedup needs --documents (the "
                    "streamed landing directory) and --sink"
                )
            schema = spark.read.parquet(args.documents).schema
            stream_jobs.stream_winnow_index_dedup(
                spark.readStream.schema(schema).parquet(args.documents),
                args.index, args.sink,
                threshold=args.threshold,
                max_fingerprint_df=args.max_df,
                id_col=args.id_col, text_col=args.text_col,
                checkpoint=args.checkpoint,
                compact_every=args.compact_every,
                evidence=args.evidence,
            ).stop()
            rep = dd.winnow_index_stats(spark, args.index)
            n_flags = spark.read.parquet(args.sink).count()
            print(
                f"streamed dedup: index holds {rep['docs']} docs in "
                f"{rep['data_files']} files; {n_flags} survivor flags "
                f"({args.sink})"
            )
            return 0
        if not args.documents:
            raise SystemExit(f"winnow-index {args.action} needs --documents")
        df = spark.read.parquet(args.documents)
        if args.action == "build":
            dd.winnow_pos_index_write(
                df, args.index, id_col=args.id_col, text_col=args.text_col,
                k=args.k, w=args.w, portable=args.portable,
            )
            n = dd._open_winnow_index(spark, args.index).fps.count()
            print(
                f"built winnow index over {n} fingerprinted docs "
                f"({args.index})"
            )
            return 0
        if args.action == "add":
            dd.winnow_pos_index_add(
                spark, args.index, df,
                id_col=args.id_col, text_col=args.text_col,
            )
            n = dd._open_winnow_index(spark, args.index).fps.count()
            print(f"index now holds {n} fingerprinted docs ({args.index})")
            return 0
        fn = {
            "spans": dd.winnow_index_spans,
            "scrub": dd.winnow_index_scrub,
            "dedup": dd.winnow_index_dedup,
        }[args.action]
        out = fn(
            spark, args.index, df,
            id_col=args.id_col, text_col=args.text_col,
            threshold=args.threshold, max_fingerprint_df=args.max_df,
        )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            print(f"wrote winnow-index {args.action} result to {args.output}")
        else:
            for row in out.limit(20).collect():  # preview-bounded
                print(tuple(row))
        return 0

    if args.job == "profile":
        from .catalog import load
        from .operators.aggregates import profile_table

        out = profile_table(
            load(spark, args.sf_dir, args.table),
            exact_distinct=not args.approx,
        )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            print(f"wrote profile to {args.output}")
        else:
            out.show(100, truncate=False)
        return 0
    return 2


if __name__ == "__main__":
    sys.exit(main())
