"""The benchmark's workloads and their output check.

A workload is defined by catalog tags. Its members are a few entries of the
tagged set, named here and chosen from the code before any output was
checked: one entry per code path the workload is meant to load, so that a
pass fits the run's time budget (README.md, "Sizing").
"""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    tags: tuple[str, ...]
    stream: bool
    volume: str
    picks: tuple[str, ...]
    #: input tables the members read
    tables: tuple[str, ...]
    extra: tuple[str, ...] = ()
    #: timed passes a run makes at least, whatever ``--seconds`` says
    min_passes: int = 1

    def tagged(self) -> list[str]:
        """Every catalog entry of this workload's kind and tags, in catalog
        order, followed by the named extras."""
        from flink_scala_spark.queries import catalog

        return [
            name for name, spec in catalog.QUERIES.items()
            if ("streaming" in spec.tags) == self.stream and set(self.tags) & set(spec.tags)
        ] + list(self.extra)

    def members(self) -> list[str]:
        tagged = self.tagged()
        lost = [n for n in self.picks if n not in tagged]
        if lost:
            raise ValueError(f"{self.name}: {lost} no longer carry the tags {self.tags}")
        return list(self.picks)


#: Why each workload exists, and what it should and should not move, is in
#: README.md ("Workloads").
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_warehouse",
            ("relational", "join", "A4"), stream=False, volume="sf0.1",
            picks=("order_dashboard_total", "generated_order_dashboard",
                   "top_supplier_revenue", "local_supplier_volume",
                   "part_supplier_diversity", "large_volume_customers"),
            tables=("region", "nation", "customer", "supplier", "part", "orders",
                    "lineitem", "events"), min_passes=2,
        ),
        Workload(
            "batch_curation",
            ("dedup", "text", "similarity", "ann"), stream=False, volume="sf0.1",
            # tables.spread; loop_checkpoint; shared_bounded in an iterative
            # loop; mapInPandas/applyInPandas top-k. Each oracle runs in under
            # a second at sf0.1.
            picks=("text_repetition", "incremental_dedup", "bpe_merges", "ann_cosine_topk"),
            tables=("documents", "embeddings"), min_passes=3,
        ),
        Workload(
            "stream_event_time",
            ("tws", "timers"), stream=True, volume="sf0.01",
            picks=("streaming_rising_alarm_tws",),
            tables=("events",),
            extra=("streaming_delta_alarm_ttl",),
        ),
        Workload(
            "stream_bulk",
            (), stream=True, volume="sf0.1",
            picks=("streaming_tumbling_counts", "streaming_dedup_within_watermark",
                   "streaming_interval_join_outer"),
            tables=("events",),
            extra=("streaming_tumbling_counts", "streaming_session_windows",
                   "streaming_dedup_within_watermark", "streaming_interval_join",
                   "streaming_interval_join_outer", "streaming_interval_join_full_outer"),
        ),
    )
}


def _check_oracle_module(root: str):
    """``tools/check_oracle.py``, imported by path so its comparison rules
    are the ones the benchmark applies."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """Compares an entry's collected Spark output with its catalog DuckDB
    oracle on the same input directory, by the rules of check_oracle.py:
    column names, column types, row count, then order-insensitive values."""

    def __init__(self, root: str, data_dir: str):
        from flink_scala_spark.queries import catalog

        self.co = _check_oracle_module(root)
        self.con = self.co.duck_con(data_dir)
        self.sql = catalog.oracle_sql_map()
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str):
        if name not in self._expected:
            if name in self.co.COMPONENT_ORACLES:
                cols, rows = self.co.COMPONENT_ORACLES[name](self.con)
                schema = None
            else:
                tbl = self.con.execute(self.sql[name]).fetch_arrow_table()
                cols, schema = tbl.schema.names, tbl.schema
                rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
            self._expected[name] = (cols, schema, self.co.df_to_sorted_rows(cols, rows)[1])
        return self._expected[name]

    def check(self, name: str, cols, dtypes, rows) -> str | None:
        """None when the output matches, else a one-line reason."""
        from flink_scala_spark.oracle_types import dtype_mismatches

        if name not in self.sql:
            return None  # rows-only entry: nothing to compare against
        d_cols, schema, d_sorted = self.expected(name)
        if sorted(cols) != sorted(d_cols):
            return f"cols spark={sorted(cols)} duck={sorted(d_cols)}"
        mis = dtype_mismatches(dtypes, schema) if schema is not None else []
        if mis:
            return "dtype drift: " + "; ".join(mis)
        if len(rows) != len(d_sorted):
            return f"rowcount spark={len(rows)} duck={len(d_sorted)}"
        s_sorted = self.co.df_to_sorted_rows(cols, rows)[1]
        if s_sorted != d_sorted:
            diffs = [(a, b) for a, b in zip(s_sorted, d_sorted) if a != b][:2]
            return f"values differ; first diffs: {diffs}"
        return None

    def close(self) -> None:
        self.con.close()
