#!/usr/bin/env python
"""Dump formatted physical plans, so plan claims can be checked against
the actual Catalyst output without running Spark.

    python tools/dump_plans.py [SF_DIR]
        Regenerate PLANS.md from the representative queries in PICKS (the
        evidence for the scale claims in SCALING.md).

    python tools/dump_plans.py --probe SF_DIR [--tag T] [--runs N]
            [--plan-only] QUERY...
        Write each query's plan to ``plans/<round>/<query>_<tag>.txt``
        (round: ``$SPARK_GRAFT_PLANS_ROUND``, default r11) and, unless
        ``--plan-only``, time it into the ``noop`` sink the way bench.py
        does: codegen warmup on the sibling ``sf0.001`` tables, then the
        min over N runs (default 2) with per-run /proc/stat steal. Prints
        one JSON line per query. Spark runs on ``local[$SPARK_GRAFT_CPUS]``
        (default 32).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PICKS = [
    ("q01_pricing_summary",
     "filter pushed to the scan (PushedFilters), pruned ReadSchema, "
     "map-side partial HashAggregate before the single Exchange"),
    ("q03_region_revenue",
     "all four dimension joins are BroadcastHashJoin; one Exchange total "
     "(the final aggregation)"),
    ("q05_latest_order_per_customer",
     "WindowGroupLimit: per-partition partial top-1 before the shuffle"),
    ("q84_line_dedup",
     "duplicate-line set feeds a broadcast anti-join; order restored by "
     "array_sort over (pos, line) structs"),
    ("q86_zorder_cells",
     "Morton interleave is pure codegen arithmetic over the scan; one "
     "Exchange for the cell aggregate"),
    ("q88_profile_columns",
     "every per-column metric in ONE aggregation pass over one scan"),
    ("q101_unigram_logprob",
     "corpus (total, vocab) stats enter as a broadcast 1-row aggregate; "
     "both count passes partial-aggregate map-side"),
    ("q102_duplicated_spans",
     "gram frequency shuffles 8-byte md5 keys, the hot-gram filter is a "
     "LeftSemi join, island-merge windows are per-doc only"),
    ("q109_html_extract",
     "the whole strip_html chain is one codegen projection over the "
     "scan — zero Exchange"),
    ("q110_domain_curation",
     "census and quota share the domain-keyed exchange family; the "
     "quota window compiles to WindowGroupLimit"),
    ("q111_lm_perplexity",
     "1-row (N, V) stats and tercile thresholds join as broadcast "
     "nested-loop; vocabulary tables BroadcastHashJoin under AQE; no "
     "ntile/global sort"),
    ("q117_prefix_jaccard_pairs",
     "df-ordered prefix tokens feed the only equi-join; exact verify "
     "runs on candidates, never all pairs"),
    ("q120_waiting_suppliers",
     "both correlated subqueries collapse into ONE per-order aggregate "
     "joined back; no nested-loop anti-join"),
    ("q40_shipment_pipeline_full",
     "the whole T6/T7 narrative+content transform is a single Project "
     "pipeline over ONE parquet scan; the only Exchange is the final "
     "document-numbering window"),
    ("q116_pagerank",
     "edge/degree relations enter as checkpointed ExistingRDD scans on "
     "the STREAMING side of BroadcastHashJoins (never shuffled); the "
     "only shuffle Exchanges are the per-iteration contribution "
     "partial-sum HashAggregates; no SortMergeJoin anywhere"),
    ("q118_web_pipeline",
     "every funnel stage reads the previous stage's checkpoint "
     "(Scan ExistingRDD), so the union of per-stage counts re-scans "
     "parquet at most once (the raw-input count); the domain quota "
     "compiles to WindowGroupLimit"),
    ("q133_kmeans",
     "the final assignment is ONE parquet scan into a pure codegen "
     "Project (centroids are k*d literals at this k) — zero Exchange, "
     "zero join; per-iteration update shuffles only (cluster, dim) "
     "partial averages (not in this final-assignment plan)"),
    ("q142_bloom_membership",
     "build side: two aggregates into the one-row bitmap; probe side: "
     "BroadcastNestedLoopJoin of that row onto the customer scan + "
     "pure bitwise Project — the probe relation never shuffles"),
    ("q143_sequence_packing",
     "the document relation flows through a window PARTITIONED by "
     "prefix bucket (hashpartitioning(__b)); the only SinglePartition "
     "exchange carries the per-bucket totals (rows = n_buckets), "
     "which broadcast-join back — no global-sort window over data"),
    ("q155_ivfpq_codes",
     "IVF-PQ encoding (cell assignment + residual + m code argmins) is "
     "a single pure-Project pipeline over ONE parquet scan — zero "
     "Exchange, zero join; both quantizer levels ride as literals, so "
     "at scale the encoded table writes straight out bucketed by cell"),
    ("q156_ivfpq_adc",
     "IVFADC search: the nprobe cell predicate is an in-plan filter on "
     "the encode projection (partition-pruning when the table is "
     "stored bucketed by cell), per-cell lookup tables are literals, "
     "and the cut is TakeOrderedAndProject — no join, no global sort"),
    ("q158_rrf_fusion",
     "RRF fusion: contributions union into one groupBy-sum and the "
     "fused cut is TakeOrderedAndProject; the dense ranker's per-query "
     "top-k compiles to WindowGroupLimit — no global Sort of an uncut "
     "relation anywhere"),
    ("q159_corpus_divergence",
     "corpus divergence: two token-count aggregates full-outer-merge "
     "on token; the scalar stats row joins back as a one-row "
     "BroadcastNestedLoopJoin; the report cut is TakeOrderedAndProject "
     "over the vocab-sized frame — never a global window"),
    ("q166_interval_overlap",
     "interval-overlap join: both interval sets explode into fixed-"
     "width bins and hash-equi-join on the bin id (the overlap "
     "predicate is a post-join filter) — no CartesianProduct, no "
     "nested loop; multi-bin pairs dedup by key"),
    ("q167_traindata_export",
     "training-data export: each stage reads the previous stage's "
     "checkpoint (Scan ExistingRDD); packing keeps the q143 shape "
     "(the only SinglePartition exchange carries per-bucket totals); "
     "the shard window partitions by the md5 coin, never a global "
     "sort"),
    ("q172_constraint_audit",
     "constraint audit: the four row-local rules share ONE "
     "conditional-sum HashAggregate over one scan; unique is a "
     "keys-only groupBy; the FK check is a single anti-join of "
     "lineitem keys against deduplicated order keys"),
    ("q137_fuzzy_decontamination",
     "the benchmark side enters ONLY as one (shingle -> [bids], df) "
     "aggregate broadcast into the candidate join; the hot-shingle "
     "cap is an in-plan filter on df (no LeftAnti, no per-call count "
     "job — its census is memoized per benchmark plan, round 6); the "
     "corpus side is exploded once and its shuffles are the bounded "
     "candidate-pair and per-doc aggregates; the per-doc LeftOuter "
     "score join-back broadcasts too — no SortMergeJoin anywhere, "
     "and the corpus never self-joins"),
]


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return -1


def probe(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="dump_plans.py --probe")
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plan-only", action="store_true")
    args = ap.parse_args(argv)

    import __spark_entry__ as em
    from jsonl_dataingestion_pipeline_spark import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="plan_probe",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "8g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries_full()
    plans_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r11")
    )
    os.makedirs(plans_dir, exist_ok=True)
    tick_hz = float(os.sysconf("SC_CLK_TCK"))
    warm_sf = os.path.join(os.path.dirname(args.sf_dir.rstrip("/")), "sf0.001")

    for name in args.queries:
        fn = qs[name]
        if not args.plan_only and os.path.isdir(warm_sf):
            try:
                fn(spark, warm_sf).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:
                print(f"# warmup FAILED {name}: {e}", file=sys.stderr)
        with open(
            os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w"
        ) as f:
            f.write(_formatted(fn(spark, args.sf_dir)))
        if args.plan_only:
            print(json.dumps({"query": name, "tag": args.tag, "plan": "ok"}),
                  flush=True)
            continue
        walls, steals = [], []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            st0 = _steal_ticks()
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.time() - t0, 3))
            st1 = _steal_ticks()
            steals.append(
                round((st1 - st0) / tick_hz, 2)
                if st0 >= 0 and st1 >= 0 else -1.0
            )
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "query": name, "tag": args.tag, "noop_sec": min(walls),
            "runs": walls, "steal_s": steals, "sf_dir": args.sf_dir,
        }), flush=True)
    spark.stop()
    return 0


def main() -> int:
    if sys.argv[1:2] == ["--probe"]:
        return probe(sys.argv[2:])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as em
    from jsonl_dataingestion_pipeline_spark import get_spark

    spark = get_spark(
        app_name="plans",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries_full()

    out = [
        "# PLANS — formatted physical plans (generated by tools/dump_plans.py)",
        "",
        f"Source: `{sf_dir}`. Regenerate after plan-affecting changes:",
        "`python tools/dump_plans.py`. The operator-tree sections below are",
        "the evidence for SCALING.md's claims; `tests/test_plans.py` asserts",
        "the load-bearing properties so they cannot silently regress.",
        "",
    ]
    for name, why in PICKS:
        df = qs[name](spark, sf_dir)
        plan = _formatted(df)
        blocks = plan.split("\n\n")
        tree = blocks[0]
        scans = [b for b in blocks[1:] if "Scan parquet" in b.split("\n", 1)[0]]
        body = tree.rstrip()
        if scans:
            body += "\n\n" + "\n\n".join(b.rstrip() for b in scans)
        out += [f"## {name}", "", f"*What to look for:* {why}", "",
                "```", body, "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(PICKS)} plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
