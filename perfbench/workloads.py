"""The benchmark's frozen workloads.

Each workload is one closed loop (one client, no extra threads) over a fixed
mix of ops on a generated corpus:

- registry queries, served through ``QueryDef.builder`` and executed row-free;
- ``prep_convert``: ``sources.prep.convert`` of the gzip CSV shards of the
  orders table into a fresh parquet directory;
- ``prep_compact``: ``sources.prep.compact`` of the small parquet shards of
  the events table into a fresh directory.

Both workloads run every op kind, so every layer is measured on both; what
differs is the corpus size and so which layers dominate a serve.
"""

from __future__ import annotations

from dataclasses import dataclass

CONVERT, COMPACT = "prep_convert", "prep_compact"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float  # scale factor of the generated corpus (1.0 = 6M lineitem rows)
    csv_shards: int  # gzip CSV shards of orders, the convert source
    parquet_shards: int  # small parquet shards of events, the compact source
    ops: tuple[str, ...]  # one pass, in frozen order; an op may appear twice

    @property
    def kinds(self) -> tuple[str, ...]:
        """The distinct ops of the mix, in first-appearance order."""
        return tuple(dict.fromkeys(self.ops))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="tiny",
            why=(
                "sf0.001 corpus, so data work is nearly nil and per-op fixed cost "
                "dominates: builder construction, hidden jobs, planning, scheduling"
            ),
            sf=0.001,
            csv_shards=4,
            parquet_shards=20,
            ops=(
                "ref_total_count",  # reference replay
                "q12_late_shipments",  # TPC-H join + aggregate
                "join_star_revenue",  # star join
                "events_funnel",  # events, windows
                "text_quality_score",  # text
                "dedup_incremental",  # served from a committed on-disk index (cache layer)
                "profile_fk_coverage",  # runs 12 Spark jobs before it returns
                "stream_dedup_watermarked",  # Structured Streaming, state store
                CONVERT,
                COMPACT,
            ),
        ),
        Workload(
            name="scaled",
            why=(
                "sf0.05 corpus, so scan, shuffle and task execution are most of "
                "every serve and the fixed per-op cost is a small share"
            ),
            sf=0.05,
            csv_shards=8,
            parquet_shards=100,
            ops=(
                "q1_pricing_summary",
                "q5_local_supplier_volume",
                "q12_late_shipments",
                "join_star_revenue",
                "events_funnel",
                # twice per pass: its latency varies most from serve to
                # serve, and its median needs the extra samples
                "stream_dedup_watermarked",
                "stream_dedup_watermarked",
                CONVERT,
                COMPACT,
            ),
        ),
    )
}
