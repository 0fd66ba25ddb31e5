"""go_map_reduce_spark — a PySpark-native analytics engine.

A from-scratch engine with the query + data-processing capabilities of
the reference MapReduce framework (embeage/go-map-reduce, surveyed in
SURVEY.md), re-expressed Spark-first:

- the reference's framework primitives (scan → map → hash-shuffle →
  sort → group → reduce → text sink; SURVEY.md §2a F1-F20) become a
  thin MapReduce-parity API over Spark (``parity.run_job``), since
  Spark's DAG scheduler / shuffle / retry / output committer subsume
  the coordinator, worker, reaper and RPC layers wholesale;
- the reference's application-level computations (wordcount, inverted
  index, per-file counts, sorted string-agg; SURVEY.md §2b A1-A8)
  become native DataFrame operators in ``operators.text``;
- everything the reference is missing for an analytics engine
  (joins, windows, set ops, scalar fns, streaming — SURVEY.md §2c
  ABSENT rows) is provided by native Spark operators in
  ``operators.relational`` / ``operators.windows`` / ``streaming``;
- the large-scale-training-pipeline extensions (dedup, similarity
  search, multimodal columns, text analysis) live in
  ``operators.dedup`` / ``operators.similarity`` /
  ``operators.multimodal`` / ``operators.textstats``.

Every public query is registered in ``registry.QUERIES`` with a DuckDB
oracle twin in ``registry.ORACLES`` (the differential-test discipline
the reference uses in main/test-mr.sh:64-131, with DuckDB playing the
role of mrsequential). The registry is filled where queries are built,
on the driver. Inside a Spark Python task the package import stops
after ``shipping`` and ``registry``, so a worker loads only the modules
its task's functions name, as the reference worker loads only the one
Map/Reduce plugin it runs (main/mrworker.go:34-51).
"""

from go_map_reduce_spark.shipping import in_python_task, keep_spark_archive_directories

# In a Python worker this stops every later task from re-reading the
# Spark install's archives (see shipping.py). It runs before any other
# engine import, so the zip importers those imports create come from the
# swapped path hook and an invalidate_caches() made while they import is
# already cheap.
keep_spark_archive_directories()

from go_map_reduce_spark import registry  # noqa: F401,E402

# Importing the operator, sources and streaming modules fills
# registry.QUERIES and ORACLES. A Python task needs neither: unpickling
# its functions imports just the modules they name (a parity map task
# needs parity.apps, an image-decode task operators.multimodal), so a
# worker skips the other ~430 modules, pandas and pyarrow among them.
if not in_python_task():
    from go_map_reduce_spark.operators import (  # noqa: F401,E402
        advanced,
        analytics,
        cogroup,
        dedup,
        events,
        functions_depth,
        graph,
        kmeans,
        multimodal,
        multimodal_jpeg,
        pipeline2,
        pipeline3,
        pipeline4,
        pipeline5,
        pipeline6,
        pipeline7,
        pipeline8,
        pipeline9,
        pipeline10,
        pipeline11,
        pipeline12,
        pipeline13,
        pipeline14,
        pipeline15,
        pipeline16,
        pipeline17,
        pipeline18,
        pipeline19,
        pipeline20,
        pipeline21,
        pipeline22,
        pipeline23,
        pipeline24,
        pipeline25,
        pipeline26,
        pipeline27,
        pipeline28,
        pipeline29,
        pipeline30,
        pipeline31,
        pipeline32,
        pipeline33,
        pipeline34,
        pipeline35,
        pipeline36,
        pipeline37,
        pipeline38,
        pipeline39,
        pipeline40,
        pipeline41,
        pipeline42,
        sqlsurface,
        stats,
        quality_filters,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        relational6,
        reshape,
        search,
        similarity,
        similarity2,
        text,
        textstats,
    )
    from go_map_reduce_spark.sources import layout, pydatasource  # noqa: F401,E402
    from go_map_reduce_spark.streaming import admit, admit_erasure, incremental, stateful, windows  # noqa: F401,E402

__all__ = ["registry"]
