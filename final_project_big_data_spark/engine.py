"""Public engine facade — the three entry-point families of SURVEY.md §3.

The reference's entry points are shell-wrapped PySpark scripts
(``tasks/exes/*.sh`` → ``tasks/scripts/*.py``); the engine exposes the same
families as one API over a shared SparkSession:

- ``Engine.sql(text)``        — SQL text → Catalyst (batch prepare-style jobs)
- ``Engine.table(name)`` / ``Engine.query(name)`` — DataFrame composition
  over registered fixtures and the declared operator registry
- ``Engine.pipeline(...)``    — prepare → train → score (ml.pipeline)
- ``Engine.stream(...)``      — streaming source → transform → checkpointed
  parquet sink (streaming.pipeline)

Everything is lazy DataFrames; nothing collects to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from final_project_big_data_spark.io import DEFAULT_SF_DIR, load_table, register_views
from final_project_big_data_spark.schemas import TABLE_NAMES


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._views_registered = False

    # -- SQL text entry point -------------------------------------------
    def sql(self, text: str) -> DataFrame:
        """Run SQL against the fixture tables (views registered lazily,
        once per engine). Catalyst handles the rest — no custom parser."""
        if not self._views_registered:
            register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(text)

    # -- DataFrame entry point ------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name not in TABLE_NAMES:
            raise KeyError(f"unknown table {name!r}")
        return load_table(self.spark, self.sf_dir, name)

    def query(self, name: str) -> DataFrame:
        """Instantiate a declared operator from the registry by name."""
        from final_project_big_data_spark.queries import all_specs

        return all_specs()[name].builder(self.spark, self.sf_dir)

    # -- pipeline entry point -------------------------------------------
    def pipeline(self, workdir: str, **kwargs) -> dict:
        """Reference-parity prepare → train → score flow (see runner)."""
        from final_project_big_data_spark.runner import run_reference_pipeline

        return run_reference_pipeline(self.spark, workdir, **kwargs)

    # -- streaming entry point ------------------------------------------
    def stream(
        self,
        source: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        sink_path: str,
        checkpoint: str,
    ):
        """Stateless/stateful stream: transform a streaming DataFrame and
        start it into the checkpointed parquet sink
        (``streaming.pipeline.run_to_parquet``, exactly-once across
        restarts). Returns the started query; the caller awaits it."""
        from final_project_big_data_spark.streaming.pipeline import run_to_parquet

        return run_to_parquet(transform(source), sink_path, checkpoint)

    # -- index / layout maintenance entry points (round 9) ---------------
    def build_index(
        self, kind: str, path: str, quantize: bool = False
    ) -> None:
        """Build-once ANN index beside the corpus (``operators.ivf_index``):
        kind="ivf" trains the coarse quantizer and writes centroids +
        centroid-partitioned postings (``quantize=True`` stores int8
        levels — 1 byte/dim inverted lists); kind="lsh" writes the
        bucket-partitioned hash tables. A maintenance job, not
        query-time work."""
        from final_project_big_data_spark.operators import ivf_index as IX

        if kind == "ivf":
            IX.save_ivf_index(self.spark, self.sf_dir, path, quantize=quantize)
        elif kind == "lsh":
            if quantize:
                raise ValueError("quantize applies to kind='ivf' only")
            IX.save_lsh_index(self.spark, self.sf_dir, path)
        else:
            raise ValueError(f"unknown index kind {kind!r}")

    def query_index(self, kind: str, path: str, n_queries: int) -> DataFrame:
        """ANN top-k answered entirely FROM a persisted index — the exact
        s03/s02 query plans over loaded frames (results row-identical to
        the fresh builds; pinned in tests)."""
        from final_project_big_data_spark.operators import ivf_index as IX

        if kind == "ivf":
            return IX.ivf_topk_with_index(self.spark, path, n_queries)
        if kind == "lsh":
            return IX.lsh_topk_with_index(self.spark, path, n_queries)
        raise ValueError(f"unknown index kind {kind!r}")

    def compact(
        self,
        src: str,
        dst: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_cols: list[str] | None = None,
    ) -> int:
        """Small-file compaction rewrite (``io.compact_files``): returns
        the byte-derived output file count."""
        from final_project_big_data_spark.io import compact_files

        return compact_files(
            self.spark, src, dst, target_file_bytes, sort_cols
        )
