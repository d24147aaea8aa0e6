"""Generate docs/PLANS.md: a physical-plan quality summary per catalog query.

For each query: exchange (shuffle) count, broadcast joins, whether scans have
pushed filters, sort-merge joins, and codegen coverage — the at-a-glance
evidence that the declarative plans compile to the intended shapes.  The
counts sum over the returned frame and every frame the query
``localCheckpoint``ed while building it (``plans.explain.query_frames``):
a checkpoint runs its stages as an eager job the returned plan no longer
shows.

    python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


#: hand-maintained scale notes appended to the generated notes column
EXTRA_NOTES = {
    "q157_partitioned_purge_audit": 'the SMJ rows are snapshot_diff\'s full-outer CDC joins between manifest-pinned versions — deliberately shuffle-shaped: at 100 TB neither version side is broadcastable (both are the table), and at rest both live bucketed by the key (sources/layout) so the join zips per-bucket; at this sf AQE re-plans them to broadcast at runtime (measured 0.96 s)',
    "q140_image_ahash_dedup": 'profile reads eagerly-materialized 16-byte fingerprint rows (the at-rest store, r9): the encode/scan/pushdown lives in the store-fill pass (plan-gated in tests/test_media_fps.py — one MapInPandas, no blob in any exchange); the checkpointed rows carry no static stats, so the band/Hamming joins print as SMJ and AQE re-plans them to broadcast at runtime at this sf — at 100 TB the shuffle shape is the correct fallback',
    "q141_audio_envelope_dedup": 'profile reads eagerly-materialized 16-byte fingerprint rows (the at-rest store, r9): the encode/scan/pushdown lives in the store-fill pass (plan-gated in tests/test_media_fps.py — one MapInPandas, no blob in any exchange); the checkpointed rows carry no static stats, so the band/Hamming joins print as SMJ and AQE re-plans them to broadcast at runtime at this sf — at 100 TB the shuffle shape is the correct fallback',
    "q142_video_frame_dedup": 'profile reads eagerly-materialized 16-byte fingerprint rows (the at-rest store, r9): the encode/scan/pushdown lives in the store-fill pass (plan-gated in tests/test_media_fps.py — one MapInPandas, no blob in any exchange); the checkpointed rows carry no static stats, so the band/Hamming joins print as SMJ and AQE re-plans them to broadcast at runtime at this sf — at 100 TB the shuffle shape is the correct fallback',
    "q145_incremental_media_dedup": 'profile reads eagerly-materialized 16-byte fingerprint rows (the at-rest store, r9): the encode/scan/pushdown lives in the store-fill pass (plan-gated in tests/test_media_fps.py — one MapInPandas, no blob in any exchange); the checkpointed rows carry no static stats, so the band/Hamming joins print as SMJ and AQE re-plans them to broadcast at runtime at this sf — at 100 TB the shuffle shape is the correct fallback',
    "q144_bpe_train": (
        "zero-exchange by construction: the learned rule ladder is the "
        "K-row trainer artifact (seed cache / at-rest cache / live "
        "training, each vocabulary-sized — see operators/train)"
    ),
    "q18_word_frequency": (
        "exact countDistinct adds a 2nd shuffle (kept for oracle parity)"
    ),
    "q55_srp_lsh_near_dup": (
        "per-row signature expressions make a large plan (fixed compile "
        "cost, irrelevant at scale); only (band, code) keys shuffle"
    ),
    "q65_token_entropy": (
        "zero exchanges by design — run-length entropy fold is row-local; "
        "map-only scan at any scale"
    ),
    "q66_source_overlap": (
        "no self-join on span hash: spans collapse to (h, source set), pair "
        "expansion row-local, inventory broadcast — hot spans bounded by "
        "C(distinct sources, 2)"
    ),
    "q67_epoch_batches": (
        "pure hash aggregate, no sort/window; epoch fan-out is a row-local "
        "3-element explode before the only exchange"
    ),
    "q68_centroid_outliers": (
        "corpus never shuffles whole vectors: (label, dim) partial aggs "
        "build centroids, arrays + stats broadcast back; z-filter map-side"
    ),
    "q63_source_mixing": (
        "exchange count is the two-level budget machinery over BOUNDED "
        "tables (256 buckets/source, boundary-bucket docs only); no "
        "corpus-scale ordered window — the point of the design"
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from cosmo_spark.plans.explain import physical_plan, query_frames
    from cosmo_spark.queries import all_queries
    from cosmo_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan summary per catalog query",
        "",
        f"Generated by `python tools/plan_report.py` over `{sf_dir}`.",
        "Exchanges = shuffle boundaries in the initial plan (AQE may coalesce",
        "further at runtime). Pushed = every parquet scan carries PushedFilters.",
        "Counts sum over the returned frame and every frame the query",
        "localCheckpointed on the way (those stages run as eager jobs).",
        "",
        "| query | exchanges | broadcast joins | SMJ | pushed filters | notes |",
        "|---|---|---|---|---|---|",
    ]
    for name, q in all_queries().items():
        try:
            df, *checkpointed = query_frames(lambda: q.spark_fn(spark, sf_dir))
            # a checkpointed frame already ran, so its own plan prints AQE's
            # final AND initial trees; a no-op select plans it afresh
            plans = [physical_plan(df)] + [
                physical_plan(f.select("*")) for f in checkpointed
            ]
        except Exception as e:  # pragma: no cover
            lines.append(f"| {name} | — | — | — | — | ERROR {type(e).__name__} |")
            continue
        n_ex = sum(len(re.findall(r"\(\d+\) Exchange", p)) for p in plans)
        n_bc = sum(
            len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin",
                           p.split("== Initial Plan ==")[0] or p))
            for p in plans
        )
        n_smj = sum(p.count("SortMergeJoin") for p in plans)
        plan = "\n".join(plans)
        scans = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        pushed = "yes" if scans and all(s.strip() for s in scans) else ("n/a" if not scans else "partial")
        notes = []
        if "Window" in plan:
            notes.append("window")
        if "posexplode" in plan.lower() or "generate" in plan.lower():
            notes.append("explode")
        if name in EXTRA_NOTES:
            notes.append(EXTRA_NOTES[name])
        lines.append(
            f"| {name} | {n_ex} | {n_bc} | {n_smj} | {pushed} | {', '.join(notes)} |"
        )
    out = Path(__file__).resolve().parent.parent / "docs" / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines) - 10} queries)")


if __name__ == "__main__":
    main()
