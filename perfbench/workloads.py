"""The benchmark's workloads: corpus sizes and the job each one times.

Every corpus comes from ``fixtures.bigbench.generate_bench_corpus`` with the
run's seed, so a seed fixes the inputs exactly. Why each workload exists is
in README.md; ``checkpointed`` is not in BENCHMARK.json (time budget) and is
run by hand.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    n_media: int
    job: str  # "flat": extract_flat + digest; "checkpoint": CheckpointedExtract.run
    n_chunks: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload("text_heavy", 10_000, 32, "flat", 2),
        Workload("kernel_heavy", 1_500, 600, "flat", 2),
        Workload("checkpointed", 600, 150, "checkpoint", 2),
    )
}

# the G2 artifact main.py defaults to
WEIGHTS = "weights/g2_trained_seed42.npz"
