"""The benchmark's workloads: which declared keys one run executes.

Every run is one fresh driver process, one closed-loop client (each key
starts only after the previous key's ``noop`` write returned) and one
``local[<cores>]`` session. The keys come from the relational,
streaming_writes and iterative_fits families, few enough that a whole
run, set-up, warm-up and output check included, takes about a minute on
a 4-core host. Every layer the trace splits out is exercised by at least
one workload.
"""

from __future__ import annotations

from dataclasses import dataclass

SCALE_FACTOR = 0.1


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    # JVM-bound: Catalyst planning, codegen'd tasks, shuffle, exact
    # decimal aggregation and a pinned range-partitioned running max.
    # The bypass side for Python-worker and micro-batch changes.
    "relational": Workload(
        keys=(
            "q_agg_percentile",
            "q_stream_watermark",
        ),
        why=(
            "JVM-bound relational keys: Catalyst, codegen tasks, shuffle, "
            "decimal aggregation and a pinned running max; the bypass side "
            "for Python-worker and micro-batch changes"
        ),
    ),
    # Driver-bound iterative fit, the paper's k-means as a streaming
    # mini-batch fit: a file-source stream whose micro-batches each run
    # an Arrow mapInPandas assignment kernel, with the centers folded on
    # the driver, built from many tiny jobs.
    "iterative_fits": Workload(
        keys=("fit_kmeans_stream",),
        why=(
            "The paper's k-means as a streaming mini-batch fit: driver-side "
            "construction over many tiny jobs, an Arrow Python kernel per "
            "micro-batch; shuffle stays near zero"
        ),
    ),
}
