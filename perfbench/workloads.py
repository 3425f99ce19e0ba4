"""The corpus shapes the benchmark runs, each built by
``plans.pipeline.build_corpus`` from the run's seed.

Sizes are set so that one run (session start, set-up, the timed pipeline
calls and their verification) takes under a minute on 4 cores. At these
sizes every stage still pays a fixed cost of about a second per call, so
the shapes are told apart by which layer carries the part of the work that
grows with the input; the measured shapes are in each ``why``."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Optional


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    dictionary: str  # 'sample' | 'synthetic' (build_corpus)
    scale: float  # n_convs = scale * 1e6, as in the pipeline CLI
    entities: int = 0  # synthetic dictionary size
    hard_every: Optional[int] = None  # plant the hard slice (sample only)
    pipeline_kwargs: Dict[str, object] = field(default_factory=dict)

    @property
    def n_convs(self) -> int:
        return max(20, int(self.scale * 1_000_000))


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="pair_heavy",
            why=(
                "2000 unique synthetic entities: pair generation and set features carry the work; "
                "pairwise edges, 2 CC rounds, clustering nearly bypassed"
            ),
            dictionary="synthetic",
            entities=2000,
            scale=0.001,
        ),
        Workload(
            name="dense_cliques",
            why=(
                "sample dictionary with the hard slice: shared-entity cliques, star edges, "
                "4 CC rounds and the JW kernel on about 10k undecided pairs"
            ),
            dictionary="sample",
            scale=0.0004,
            hard_every=8,
        ),
    )
}
