"""The benchmark's workloads: which queries run, on which data, and why."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    data: str  # "fixture" (sf0.01 copy) or "generated" (gen_sf --factor 10)
    why: str
    queries: tuple[str, ...]
    #: the fewest warm passes a run measures, whatever ``--seconds`` says
    min_passes: int = 5


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="olap",
            data="generated",
            why=(
                "JVM CPU and shuffle: a TPC-H join and aggregate, a compiled "
                "program, group-by-limit, merge and aggregate-state queries on "
                "600k generated lineitem rows; Python workers and caches idle"
            ),
            queries=(
                "q1_pricing_summary",
                "groupby_limited_top",
                "q5_local_supplier_volume",
                "replace_merge_latest",
                "agg_state_merge_daily",
            ),
        ),
        Workload(
            name="docs",
            data="fixture",
            why=(
                "Python workers, shared-scan caches and the driver: dedup, "
                "BPE and embedding queries, and a deletion sweep that builds "
                "six stores and retracts ids from each, on the sf0.01 "
                "documents"
            ),
            queries=(
                "ngram_containment_dups",
                "bpe_encode_docs",
                "embedding_neardup",
                "gdpr_forget_sweep",
            ),
            # the sweep makes a pass take 8-10 s; two passes keep a run near
            # 65 s, so that the 48 runs of both workloads fit an hour
            min_passes=2,
        ),
    )
}
