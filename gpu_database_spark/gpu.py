"""GPU acceleration hook (the reference's raison d'être, mapped to the
public Spark ecosystem).

The reference keeps its store GPU-resident and runs one CUDA thread
per transaction (SURVEY.md §1, §4). In the Spark world, GPU execution
of SQL/DataFrame plans is a *physical layer* concern served by the
public RAPIDS Accelerator for Apache Spark
(``spark.plugins=com.nvidia.spark.SQLPlugin`` + the rapids-4-spark
jar): it swaps scans, joins, aggregations and sorts for GPU
implementations without touching the logical plan.

Because every operator in this engine is declared via the DataFrame /
SQL API (no RDDs, no row-level Python in hot paths), the entire query
surface is RAPIDS-eligible as-is; the few Arrow pandas-UDF stages
(multimodal decode, stateful streaming) fall back to CPU cleanly.

This module only wires the configuration: it must stay a no-op —
correct on plain CPU Spark — when the plugin jar is absent (it is
absent in this container; no GPU tests run here).
"""

from __future__ import annotations


def rapids_confs(
    concurrent_gpu_tasks: int = 2,
    pool_fraction: float = 0.8,
) -> dict[str, str]:
    """The conf set to launch with when a GPU + rapids-4-spark jar are
    available. Mirrors the reference's physical knobs: the 500 MB
    allocator cap (database.h:5) becomes the RMM pool fraction; the
    txn-per-thread geometry (TransctionManager.cuh:122) becomes
    concurrentGpuTasks."""
    return {
        "spark.plugins": "com.nvidia.spark.SQLPlugin",
        "spark.rapids.sql.concurrentGpuTasks": str(concurrent_gpu_tasks),
        "spark.rapids.memory.gpu.pool": "ASYNC",
        "spark.rapids.memory.gpu.allocFraction": str(pool_fraction),
        # columnar shuffle keeps batches on-GPU across stages
        "spark.rapids.sql.batchSizeBytes": "268435456",
    }
