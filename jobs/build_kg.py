#!/usr/bin/env python
"""spark-submit entry point for the corpus→knowledge-graph job.

Cluster deployment (north rule: ``spark-submit --py-files``)::

    python tools/package_pyfiles.py dist/fastobo_py_spark.zip
    spark-submit --py-files dist/fastobo_py_spark.zip \
        --driver-class-path dist/sparkobo-localfs.jar \
        --conf spark.hadoop.fs.file.impl=sparkobo.NioLocalFileSystem \
        jobs/build_kg.py \
        --corpus <parquet-or-iceberg-path> --out <output-dir> [--no-resume]

The two file-system flags route local ``file://`` writes through
``sparkobo.NioLocalFileSystem`` (the jar the packaging tool builds): the
JVM ``spark-submit`` starts otherwise keeps Hadoop's own class, which
forks a ``chmod`` per created file, ``.crc`` file and directory (~470 per
batch). The batch metrics' ``local_fs`` names the class in effect.

Sandbox smoke::

    python jobs/build_kg.py --synthetic 200 --out /tmp/kg_out

The job is resumable: every completed (repo, path, commit, sha256) row is
recorded in ``<out>/_manifest``; a rerun anti-joins the corpus against it
and only processes the remainder (plans/pipeline.py O19).

Maintenance flags run in a FIXED order after the batch — publish-branch
(so later ops apply to the published main), rewrite-data-files,
delete-where, merge-into, eq-delete-where, materialize-deletes,
expire-snapshots, remove-orphans, tag (last, so the pinned snapshot
reflects every maintenance op of this run). Output compaction is
``--rewrite-data-files --expire-snapshots 1``: compacted leaves, one
snapshot, and a plain-path read that sees each row once.
Statically-fatal combinations are rejected before Spark starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `python jobs/build_kg.py` puts jobs/ (not the repo root) on sys.path
# (PEP 538 script-dir behavior); on a cluster --py-files provides the
# package instead and this is a no-op.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    src_group = ap.add_mutually_exclusive_group(required=True)
    src_group.add_argument("--corpus", help="parquet path (or Iceberg table path) of the repo corpus")
    src_group.add_argument("--synthetic", type=int, default=None, help="use N synthetic OBO docs instead of --corpus")
    ap.add_argument("--out", required=True, help="output directory (nodes/edges/quarantine/_manifest)")
    ap.add_argument("--no-resume", action="store_true", help="ignore the manifest and reprocess everything")
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument("--salts", type=int, default=16, help="hub-salt fanout for edge writes")
    ap.add_argument("--compact-max-parts", type=int, default=32,
                    help="with --rewrite-data-files: rewrite a leaf once it holds "
                    "more parquet parts than this")
    ap.add_argument(
        "--rewrite-data-files",
        action="store_true",
        help="after the batch, compact fragmented leaves NON-destructively "
        "behind one replace snapshot (time travel preserved until "
        "--expire-snapshots)",
    )
    ap.add_argument(
        "--rewrite-sort-by",
        default=None,
        metavar="COL[,COL...]",
        help="with --rewrite-data-files: SORT strategy — re-cluster every "
        "leaf ordered by these columns so each file covers a disjoint "
        "range (footer-stats file skipping for probes on them)",
    )
    ap.add_argument(
        "--delete-where",
        default=None,
        metavar="PREDICATE",
        help="after the batch, copy-on-write DELETE rows matching this SQL "
        "predicate from nodes+edges (takedown; commits an op=delete "
        "snapshot — combine with --expire-snapshots for a physical purge)",
    )
    ap.add_argument(
        "--merge-into",
        default=None,
        nargs=2,
        metavar=("TABLE", "SOURCE_PARQUET"),
        help="after the batch, copy-on-write MERGE (upsert by key) the "
        "parquet at SOURCE_PARQUET into TABLE (nodes|edges): target rows "
        "whose --merge-on key appears in the source are replaced by the "
        "source's rows for that key, unmatched source keys insert "
        "(commits an op=overwrite snapshot)",
    )
    ap.add_argument("--merge-on", default="doc_sha", metavar="KEY[,KEY...]",
                    help="comma-separated merge key columns (default doc_sha)")
    ap.add_argument(
        "--eq-delete-where",
        default=None,
        metavar="PREDICATE",
        help="after the batch, MERGE-ON-READ delete: commit equality-"
        "delete key files for rows matching this SQL predicate (keyed on "
        "doc_sha; no data-file rewrites — readers mask on the fly until "
        "--materialize-deletes folds them in)",
    )
    ap.add_argument(
        "--materialize-deletes",
        action="store_true",
        help="after the batch, fold all pending equality deletes into the "
        "data files (rewrites only files holding masked rows; required "
        "before --rewrite-data-files/--expire-snapshots when deletes are "
        "pending)",
    )
    ap.add_argument("--expire-snapshots", type=int, default=None, metavar="KEEP",
                    help="after the batch, keep only the newest KEEP snapshots and "
                    "delete data files no retained snapshot references")
    ap.add_argument(
        "--tag",
        default=None,
        metavar="NAME",
        help="after the batch (and any maintenance), pin this name to the "
        "current snapshot (Iceberg tag ref: a durable consumer-facing "
        "name that also survives --expire-snapshots)",
    )
    ap.add_argument(
        "--branch",
        default=None,
        metavar="NAME",
        help="commit the batch's snapshot to this branch instead of main "
        "(write-audit-publish: HEAD readers never see the batch until "
        "--publish-branch fast-forwards). Cut a FRESH branch name per "
        "run — a ref left behind by an earlier published run is stale "
        "once main advances and cannot fast-forward again",
    )
    ap.add_argument(
        "--publish-branch",
        default=None,
        metavar="NAME",
        help="right after the batch (BEFORE maintenance ops, which then "
        "apply to the published main), fast-forward HEAD to this "
        "branch's head (the WAP publish; fails if main diverged). When "
        "publishing from a SEPARATE invocation, pass --branch NAME too: "
        "every run commits a snapshot (even an all-resumed empty one), "
        "and an empty commit landing on MAIN would diverge it from the "
        "branch",
    )
    ap.add_argument("--remove-orphans", action="store_true",
                    help="after the batch, delete data files referenced by no snapshot")
    ap.add_argument("--master", default=None, help="override master (defaults to local[$SPARK_GRAFT_CPUS])")
    args = ap.parse_args(argv)
    if args.synthetic is not None and args.synthetic <= 0:
        ap.error("--synthetic must be a positive document count")
    rewrite_sort_cols = [c for c in (args.rewrite_sort_by or "").split(",") if c]
    if rewrite_sort_cols and not args.rewrite_data_files:
        ap.error("--rewrite-sort-by requires --rewrite-data-files")
    # the CLI rewrite covers BOTH tables, so sort columns must exist in
    # both schemas; table-specific columns (subj, id, ...) need the API's
    # rewrite_data_files(tables=...) — validated pre-Spark, like the rest
    bad_sort = [c for c in rewrite_sort_cols if c not in ("doc_sha", "idspace")]
    if bad_sort:
        ap.error(
            f"--rewrite-sort-by column(s) {bad_sort} not shared by nodes AND edges "
            "(use doc_sha and/or idspace; table-specific columns need the "
            "rewrite_data_files(tables=...) API)"
        )
    if args.branch and args.tag and not args.publish_branch:
        ap.error(
            "--tag with --branch needs --publish-branch: the tag pins main "
            "HEAD, which the staged batch never advances (on a fresh dir it "
            "would crash after the whole batch; on an existing dir it would "
            "silently tag the stale pre-batch snapshot)"
        )
    if args.eq_delete_where and args.expire_snapshots is not None and not args.materialize_deletes:
        ap.error(
            "--eq-delete-where + --expire-snapshots needs --materialize-deletes: "
            "expire refuses over the just-committed pending deletes, after the "
            "whole batch already ran"
        )
    # merge args are usage-validated BEFORE Spark starts (the repo's CLI
    # convention) — a typo'd table name must not burn a whole batch and
    # then swallow its metrics JSON on exit
    merge_on_cols = [c for c in args.merge_on.split(",") if c]
    if args.merge_into:
        if args.merge_into[0] not in ("nodes", "edges"):
            ap.error(f"--merge-into table must be one of ('nodes', 'edges'), got {args.merge_into[0]!r}")
        if not merge_on_cols:
            ap.error("--merge-on needs at least one key column")

    from fastobo_py_spark.plans.pipeline import run_pipeline
    from fastobo_py_spark.session import get_spark

    spark = get_spark(app_name="fastobo-build-kg", master=args.master)
    try:
        if args.synthetic is not None:
            from fastobo_py_spark.sources.corpus import corpus_df

            corpus = corpus_df(spark, n_obo=args.synthetic, n_noise=args.synthetic // 2)
        else:
            corpus = spark.read.parquet(args.corpus)

        metrics = run_pipeline(
            spark,
            corpus,
            args.out,
            resume=not args.no_resume,
            n_salts=args.salts,
            canonicalize=not args.no_canonicalize,
            snapshot_branch=args.branch,
        )
        # publish FIRST: the maintenance ops below commit to (or expire)
        # MAIN — running them before the fast-forward would advance main
        # past the staged branch and make the publish fail as divergent
        if args.publish_branch is not None:
            from fastobo_py_spark.plans import snapshots as snap

            metrics["published_snapshot"] = snap.fast_forward(args.out, args.publish_branch)
        if args.rewrite_data_files:
            from fastobo_py_spark.plans import snapshots as snap

            metrics["rewrite_data_files"] = snap.rewrite_data_files(
                spark,
                args.out,
                max_parts=args.compact_max_parts,
                sort_by=rewrite_sort_cols or None,
            )
        if args.delete_where:
            from fastobo_py_spark.plans import snapshots as snap

            metrics["delete_where"] = snap.delete_where(spark, args.out, args.delete_where)
        if args.merge_into:
            from fastobo_py_spark.plans import snapshots as snap

            table, src_path = args.merge_into
            metrics["merge_into"] = snap.merge_into(
                spark, args.out, table, spark.read.parquet(src_path), on=merge_on_cols
            )
        if args.eq_delete_where:
            from fastobo_py_spark.plans import snapshots as snap

            metrics["eq_delete"] = snap.equality_delete(spark, args.out, args.eq_delete_where)
        if args.materialize_deletes:
            from fastobo_py_spark.plans import snapshots as snap

            metrics["materialize_deletes"] = snap.materialize_deletes(spark, args.out)
        if args.expire_snapshots is not None:
            from fastobo_py_spark.plans import snapshots as snap

            metrics["expire_snapshots"] = snap.expire_snapshots(
                args.out, keep_last=args.expire_snapshots
            )
        if args.remove_orphans:
            from fastobo_py_spark.plans import snapshots as snap

            metrics["removed_orphan_files"] = snap.remove_orphan_files(args.out)
        if args.tag is not None:
            from fastobo_py_spark.plans import snapshots as snap

            # empty string reaches create_tag and raises (a wrapper that
            # interpolated an unset $VAR must fail loudly, not silently
            # skip the promotion)
            metrics["tagged_snapshot"] = snap.create_tag(args.out, args.tag)
        print(json.dumps(metrics))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
