"""Pinned workload definitions.

Every list is pinned by sorted name here, never derived from
``registry.QUERIES``, whose order ``rotation_state`` reshuffles every round.
The workload seed only picks the order in which a timed pass runs them.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Construction-bound: regime-gate count() jobs and localCheckpoint writes
# dominate the query's build at sf0.01. One operator keeps a pass short, so
# a run can warm up for many passes and still time several.
ITERATIVE = ("dedup_cluster_components",)

# Every ninth name, in sorted order, of the 221 registered plans from
# ushas_spark/queries/* except udf_*.
LINEAGE_CORPUS = (
    "agg_approx_sketches",
    "agg_equidepth_histogram",
    "agg_minmax_argmax",
    "agg_winsorized_stats",
    "events_changepoint_cusum",
    "events_gini_coefficient",
    "events_seasonal_index",
    "explode_unnest",
    "expr_spark_only_battery",
    "join_inner_dim",
    "join_using_natural",
    "posexplode_with_position",
    "q18_large_volume",
    "q5_local_supplier_volume",
    "setop_except_all",
    "source_range",
    "sql_count_variants",
    "sql_group_by_all",
    "sql_join_empty_relation",
    "sql_operator_misc",
    "sql_row_value_comparison",
    "sql_subquery_in_select_list",
    "subq_exists_correlated",
    "topk_global",
    "window_running_distinct",
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # scale-factor directory name, e.g. "sf0.1"
    names: tuple[str, ...]
    lineage_only: bool = False  # time lineage() over prebuilt plans, run no queries

    def pass_orders(self, seed: int):
        """Endless seeded sequence of per-pass orders."""
        rng = random.Random(f"{self.name}:{seed}")
        while True:
            order = list(self.names)
            rng.shuffle(order)
            yield order


WORKLOADS = {
    w.name: w
    for w in (
        Workload("iterative_sf0.01", "sf0.01", ITERATIVE),
        Workload("lineage_corpus", "sf0.001", LINEAGE_CORPUS, lineage_only=True),
    )
}
