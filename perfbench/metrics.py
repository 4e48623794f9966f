"""The benchmark's metric catalogue, read from ``BENCHMARK.json``, and
the helpers that turn a traced pass into per-layer values.

Every run prints every metric of its kind (end-to-end untraced,
per-layer traced) for whichever workload it runs.  A per-layer metric of a
layer the workload never calls reads 0: the layer did no work there.
"""

from __future__ import annotations

import json
import os

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    return {m["name"]: m["unit"] for m in spec()[kind]}


def engine(tracer, job_ids, wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` metrics of one traced pass."""
    m = tracer.stage_metrics(job_ids)
    return {
        "spark.jobs": m["jobs"],
        "spark.stages": m["stages"],
        "spark.tasks": m["tasks"],
        "spark.executor_run_s": m["executor_run_s"],
        "spark.executor_cpu_s": m["executor_cpu_s"],
        "spark.input_bytes": m["input_bytes"],
        "spark.shuffle_write_bytes": m["shuffle_write_bytes"],
        "spark.spill_bytes": m["spill_bytes"],
        "spark.executor_busy_frac": m["executor_run_s"] / (cores * wall_s),
    }


def fill(values: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric, 0 for layers this workload does not call."""
    names = units("per_layer")
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"metrics not in the catalogue: {sorted(unknown)}")
    return {k: float(values.get(k, 0.0)) for k in names}
