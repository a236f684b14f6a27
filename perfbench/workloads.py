"""The benchmark's workloads: what one iteration runs and over which
generated inputs. Why each workload exists is recorded with it in
``BENCHMARK.json``.

Every workload is one client in a closed loop: each call starts when
the previous one has finished. A call is one slug (build the plan,
then run its action) or, for ``mr_wordcount``, one MapReduce job
(``MapReduceJob.run`` then ``.write``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    items: str  # what items_per_s counts: a row count of the manifest
    sizes: dict[str, int]
    warmup: dict[str, int]  # sizes of the warm-up inputs
    slugs: tuple[str, ...] = ()
    # a fresh snapshot path per iteration, so the session index cache
    # (keyed by path) is cold for each iteration, as in a corpus run
    fresh_snapshot: bool = False
    # warm up with every call of an iteration, not only the first, so the
    # timed iterations pay no call's first use
    full_warm_up: bool = False

    @property
    def calls(self) -> tuple[str, ...]:
        return self.slugs or (self.name,)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="corpus_prep",
            items="documents",
            sizes={"documents": 500},
            warmup={"documents": 60},
            slugs=(
                "pipeline_prepare_corpus",
                "dedup_minhash_lsh",
                "dedup_components",
                "pipeline_dedup_report",
                "pipeline_prepare_corpus_v2",
            ),
            fresh_snapshot=True,
            full_warm_up=True,
        ),
        Workload(
            name="events_stream",
            items="events",
            sizes={"events": 50_000},
            warmup={"events": 400},
            slugs=(
                "streaming_events_hourly",
                "streaming_sessionize",
                "streaming_stream_join",
                "streaming_dedup_watermarked",
            ),
        ),
        Workload(
            name="mr_wordcount",
            items="words",
            sizes={"words": 400_000, "vocab": 20_000, "files": 8},
            warmup={"words": 2000, "vocab": 50, "files": 2},
        ),
    )
}
