"""The benchmark's workloads: which public calls run, in which order.

A job is one public call into the program.  Calls that return a
DataFrame are forced through the noop sink; calls that persist state
return table names and are run for their effect.  ``oracle`` names the
``__spark_entry__.oracle_sql()`` entry a job's result is checked
against, ``writes`` marks the calls that persist state.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class Job:
    name: str  # <module>.<call> as reported
    run: Callable  # (spark, sf_dir) -> DataFrame | table names
    oracle: str | None = None
    writes: bool = False


@dataclass(frozen=True)
class Workload:
    name: str
    jobs: tuple[Job, ...]
    clears: tuple[Callable[[], None], ...]  # run at the start of every pass

    @property
    def persists(self) -> bool:
        """Workloads that persist state start every pass from an empty
        warehouse."""
        return any(j.writes for j in self.jobs)

    def job(self, name: str) -> Job:
        return next(j for j in self.jobs if j.name == name)


RELATIONAL_CALLS = (
    "scan", "scan_filter_count", "groupby_count", "groupby_count_array",
    "hashjoin_agg", "pricing_summary", "q3_shipping_priority",
    "sql_subqueries", "sql_order_priority", "join_variants",
    "regional_revenue", "top_customers", "rollup_summary", "agg_stats",
)
ANALYTICS_CALLS = ("window_ranking", "percentiles")
GRAPH_CALLS = ("graph_load", "bfs")


def _query(module, call: str) -> Job:
    label = module.__name__.rsplit(".", 1)[1]
    return Job(f"{label}.{call}", getattr(module, call), oracle=call)


def relational_short() -> Workload:
    from smile_spark.operators import analytics, graph, relational

    jobs = (
        [_query(relational, c) for c in RELATIONAL_CALLS]
        + [_query(analytics, c) for c in ANALYTICS_CALLS]
        + [_query(graph, c) for c in GRAPH_CALLS]
    )
    return Workload("relational_short", tuple(jobs), ())


def label_lifecycle() -> Workload:
    from smile_spark.operators import dedup, multimodal

    def image(fn):
        return lambda spark, sf: fn(spark, sf, "image")

    jobs = (
        # Text rung: the persisted set-similarity base index, read back
        # by the incremental probe that uses it.
        Job("dedup.setsim_index_build", dedup.setsim_index_build, writes=True),
        Job(
            "dedup.setsim_incremental_indexed",
            dedup.setsim_incremental_indexed,
            oracle="setsim_incremental_indexed",
        ),
        # Image rung: base index, base labels, roll-forward, compaction.
        Job("multimodal.dhash_index_build", multimodal.dhash_index_build, writes=True),
        Job(
            "multimodal.image_label_index_build",
            multimodal.image_label_index_build,
            writes=True,
        ),
        Job(
            "multimodal.label_rollforward",
            image(multimodal.label_rollforward),
            writes=True,
        ),
        Job(
            "multimodal.image_labels_rolled",
            multimodal.image_labels_rolled,
            oracle="image_labels_rolled",
        ),
        Job("multimodal.label_compact", image(multimodal.label_compact), writes=True),
        Job(
            "multimodal.image_labels_rolled_compacted",
            multimodal.image_labels_rolled,
            oracle="image_labels_rolled",
        ),
    )
    clears = (
        dedup.clear_setsim_index_cache,
        multimodal.clear_dhash_cache,
        multimodal.clear_dhash_index_cache,
        multimodal.clear_dhash_roll_cache,
        multimodal.clear_image_label_cache,
        multimodal.clear_image_labelroll_cache,
    )
    return Workload("label_lifecycle", jobs, clears)


WORKLOADS = {"relational_short": relational_short, "label_lifecycle": label_lifecycle}


def lifecycle_steps() -> dict[str, str]:
    """Warehouse-size checkpoints: step name -> the writing job after
    which the warehouse is measured."""
    return {
        j.name.split(".", 1)[1]: j.name for j in label_lifecycle().jobs if j.writes
    }
